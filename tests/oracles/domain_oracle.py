"""VALUE checks for the domain pipelines on a restricted-but-honest
slice.

The full ProHap/ProVar pipelines run a per-row Python kernel
(U1-U3, `kernels/haplo.py`) that is not SQL-expressible in general
(indels shift coordinates, splice truncation rewrites alleles, the
start codon moves). But on the deterministic synthetic cohort
(`pipeline/synthetic.py`) every variant is a single-base SNP on a
'+'-strand transcript with an annotated start codon — a slice where
the reference semantics (process_haplotypes.py:261-401,
process_variants.py:113-229 of the reference) reduce to
overlay + codon-table translation, all expressible in DuckDB SQL.
The cohort mixes autosomal, X-non-PAR, and X-PAR1 transcripts with
mixed-sex samples, so the ProHap oracle also value-checks A3's
sex-aware machinery end-to-end: male phase-2 suppression at haploid
loci and the per-transcript m + 2*(n-m) denominators.

So these checks run the REAL pipelines (no special casing) and pair
them with a from-scratch SQL re-derivation of the
expected output over the same parquet. The slice is the whole cohort
— SNP-only by construction — so this is a full value check of the
end-to-end SNP path: interval join, genotype melt, conflict drop,
signature grouping, frequency denominators, U1 exon mapping, codon
consequence typing, UTR trim with the first-stop cutoff, the
synonymous-only suppression, and the A5 duplicate merge.

The SQL reads the materialized cohort parquet directly (the Spark
side of each check materializes it first — deterministic content, so
a pre-existing copy from an earlier run is byte-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prohap_spark.functions.genomics import CODON_TABLE
from tests.oracles import register

from prohap_spark.pipeline.synthetic import COHORT_BASE

_DIR = f"{COHORT_BASE}_s1"

# GRCh38 pseudo-autosomal regions, mirrored from pipeline/prohap.py —
# re-stated here so the oracle derives diploidy independently
_PAR_SQL = (
    "({c} <> 'X' OR {p} BETWEEN 10001 AND 2781479 "
    "OR {p} BETWEEN 155701383 AND 156030895)"
)

_CODON_VALUES = ", ".join(f"('{c}', '{a}')" for c, a in sorted(CODON_TABLE.items()))

# Shared SQL fragments ------------------------------------------------
#
# tr: '+'-strand transcripts with cDNA and the start codon mapped to
#     its RNA offset (reference reading_frame_offset semantics; exons
#     are 1-based inclusive, '+' strand → offset is the exonic length
#     before the codon's first base).
# off: U1 point mapping of a genomic SNP position (get_rna_position
#     for ref_len 1 — no truncation possible).
_TR_CTE = f"""
  tr AS (
    SELECT t.transcript_id, t.exons, t.chrom AS t_chrom,
           t.start AS t_start, t."end" AS t_end, c.sequence AS cdna,
           CAST(coalesce(list_sum(list_transform(
                  list_filter(t.exons, e -> e['end'] < t.start_codon),
                  e -> e['end'] - e['start'] + 1)), 0)
                + t.start_codon
                - list_filter(t.exons,
                    e -> e['start'] <= t.start_codon AND t.start_codon <= e['end']
                  )[1]['start'] AS BIGINT) AS start_off
    FROM read_parquet('{_DIR}/transcripts/*.parquet') t
    JOIN read_parquet('{_DIR}/cdna/*.parquet') c ON c.accession = t.transcript_id
    WHERE t.strand = '+' AND t.start_codon IS NOT NULL
  )"""

_OFF_EXPR = """
         CAST(coalesce(list_sum(list_transform(
                list_filter(tr.exons, e -> e['end'] < {p}),
                e -> e['end'] - e['start'] + 1)), 0)
              + {p}
              - list_filter(tr.exons,
                  e -> e['start'] <= {p} AND {p} <= e['end'])[1]['start']
              AS BIGINT)"""


_PROVAR_CTES = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
{_TR_CTE},
v AS (
  SELECT chrom, pos, ref, alt
  FROM read_parquet('{_DIR}/variants/*.parquet')
  WHERE af >= 0.01 AND length(ref) = 1 AND length(alt) = 1
    AND ref IN ('A','C','G','T') AND alt IN ('A','C','G','T')
),
-- J1 interval join + exon-hit refine (vcf_reader predicate for SNPs:
-- exon.start <= pos <= exon.end), then U1 mapping and the <3 bp
-- near-junction splice flag (coordinates_toolbox.py:74-78: for a SNP,
-- flagged iff pos >= exon_end - 1 or pos - exon_start < 3)
m AS (
  SELECT tr.transcript_id,
         v.chrom || '_' || v.pos || '_' || v.ref || '_' || v.alt AS item_id,
         v.ref, v.alt, tr.cdna, tr.start_off,
         {_OFF_EXPR.format(p="v.pos")} AS off,
         (v.pos >= list_filter(tr.exons,
              e -> e['start'] <= v.pos AND v.pos <= e['end'])[1]['end'] - 1
          OR v.pos - list_filter(tr.exons,
              e -> e['start'] <= v.pos AND v.pos <= e['end'])[1]['start'] < 3
         ) AS is_splice
  FROM v JOIN tr
    ON v.chrom = tr.t_chrom AND v.pos BETWEEN tr.t_start AND tr.t_end
  WHERE len(list_filter(tr.exons,
          e -> e['start'] <= v.pos AND v.pos <= e['end'])) > 0
),
e AS (
  SELECT *, start_off % 3 AS rf, (start_off - start_off % 3) // 3 AS pstart,
         substr(cdna, 1, CAST(off AS INT)) || alt
           || substr(cdna, CAST(off + 2 AS INT)) AS mutated
  FROM m
),
-- translate(mutated[rf:]) codon grid; protein-to-stop from codon
-- index pstart (process_variants.py: translate from rf + pstart*3)
cx AS (
  -- DISTINCT: duplicate VCF rows at one locus are distinct e-rows but
  -- share the item_id — without dedup the string_agg doubles the AAs
  SELECT DISTINCT g.transcript_id, g.item_id, g.pstart, g.i, c.aa
  FROM (
    SELECT e.transcript_id, e.item_id, e.pstart, i.range AS i,
           upper(substr(e.mutated, CAST(e.rf + i.range * 3 + 1 AS INT), 3)) AS codon
    FROM e, range(0, 300) i
    WHERE e.rf + i.range * 3 + 3 <= length(e.mutated)
  ) g JOIN codons c ON c.codon = g.codon
),
stops AS (
  SELECT transcript_id, item_id,
         min(CASE WHEN aa = '*' AND i >= pstart THEN i END) AS stop_i
  FROM cx GROUP BY 1, 2
),
prot AS (
  SELECT c.transcript_id, c.item_id,
         coalesce(string_agg(c.aa, '' ORDER BY c.i)
           FILTER (WHERE c.i >= c.pstart AND (s.stop_i IS NULL OR c.i < s.stop_i)),
           '') AS protein
  FROM cx c JOIN stops s USING (transcript_id, item_id)
  GROUP BY 1, 2
)"""


PROVAR_SNP_SQL = f"""{_PROVAR_CTES}
SELECT e.transcript_id, e.item_id,
       e.off || ':' || e.ref || '>' || e.alt AS cdna_changes,
       CASE WHEN e.is_splice THEN 'splice_variant'
            WHEN cr.aa = ca.aa THEN 'synonymous'
            WHEN cr.aa = '*' AND ca.aa <> '*' THEN 'stop_lost'
            WHEN cr.aa <> '*' AND ca.aa = '*' THEN 'stop_gained'
            ELSE 'SAV' END AS variant_types,
       p.protein
FROM e
JOIN codons cr ON cr.codon = upper(substr(
  e.cdna, CAST(((e.off - e.rf) // 3) * 3 + e.rf + 1 AS INT), 3))
JOIN codons ca ON ca.codon = upper(substr(
  e.mutated, CAST(((e.off - e.rf) // 3) * 3 + e.rf + 1 AS INT), 3))
JOIN prot p ON p.transcript_id = e.transcript_id AND p.item_id = e.item_id
"""


PROVAR_FASTA_SQL = f"""{_PROVAR_CTES},
-- deterministic variant ids: content hash of the natural key
-- (md5 → engine-portable), same derivation as pipeline/provar.py
ranked AS (
  SELECT e.transcript_id, e.item_id, e.rf, p.protein,
         'var_' || split_part(e.item_id, '_', 1) || '_'
           || substr(md5(e.item_id || '|' || e.transcript_id), 1, 16)
           AS variant_id
  FROM e JOIN prot p
    ON p.transcript_id = e.transcript_id AND p.item_id = e.item_id
),
dedup AS (
  SELECT protein,
         list_sort(list_distinct(list(variant_id))) AS items,
         list_sort(list_distinct(list(rf))) AS rfs,
         min(variant_id) AS accession
  FROM ranked WHERE length(protein) >= 6
  GROUP BY protein
)
SELECT 'generic_var' AS tag, accession,
       'matching_proteins:' || array_to_string(items, ';')
         || ' reading_frames:'
         || array_to_string(list_transform(rfs, x -> CAST(x AS VARCHAR)), ';')
         AS description,
       protein AS sequence
FROM dedup
"""


PROHAP_SNP_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
{_TR_CTE},
v AS (
  SELECT chrom, pos, ref, alt, genotypes
  FROM read_parquet('{_DIR}/variants/*.parquet')
  WHERE af >= 0.01 AND length(ref) = 1 AND length(alt) = 1
    AND ref IN ('A','C','G','T') AND alt IN ('A','C','G','T')
),
-- distinct loci → transcript assignment (extract_haplotypes melts the
-- full VCF but assigns loci once)
asg AS (
  SELECT DISTINCT l.chrom, l.pos, l.ref, l.alt, tr.transcript_id,
         {_OFF_EXPR.format(p="l.pos")} AS off
  FROM (SELECT DISTINCT chrom, pos, ref, alt FROM v) l JOIN tr
    ON l.chrom = tr.t_chrom AND l.pos BETWEEN tr.t_start AND tr.t_end
  WHERE len(list_filter(tr.exons,
          e -> e['start'] <= l.pos AND l.pos <= e['end'])) > 0
),
-- genotype melt (phased GT '<h1>|<h2>') → per-phase carrier rows;
-- A3: male copies at X-non-PAR loci are HAPLOID — phase 2 is
-- suppressed entirely (get_haplotypes.py:118-119)
meta AS (
  SELECT CAST(substr(sample_name, 2) AS INT) AS sidx, sex
  FROM read_parquet('{_DIR}/meta/*.parquet')
),
cohort AS (
  SELECT count(*) AS n,
         sum(CASE WHEN sex = 'male' THEN 1 ELSE 0 END) AS m
  FROM meta
),
mg AS (
  SELECT chrom, pos, ref, alt,
         unnest(genotypes) AS gt,
         unnest(range(len(genotypes))) AS sidx
  FROM v
),
car AS (
  SELECT * FROM (
    SELECT chrom, pos, ref, alt, sidx, 1 AS phase,
           CAST(split_part(gt, '|', 1) AS INT) AS allele FROM mg
    UNION ALL
    SELECT g.chrom, g.pos, g.ref, g.alt, g.sidx, 2,
           CAST(split_part(g.gt, '|', 2) AS INT)
    FROM mg g JOIN meta s USING (sidx)
    WHERE NOT (s.sex = 'male'
               AND NOT {_PAR_SQL.format(c="g.chrom", p="g.pos")})
  ) WHERE allele = 1
),
tc AS (
  SELECT c.sidx, c.phase, c.pos, c.ref, c.alt, a.transcript_id, a.off
  FROM car c JOIN asg a USING (chrom, pos, ref, alt)
),
-- W1 conflict drop: for SNPs two changes overlap iff same pos — any
-- duplicated pos on one transcript copy drops the whole copy
conf AS (
  SELECT DISTINCT transcript_id, sidx, phase
  FROM tc GROUP BY transcript_id, sidx, phase, pos HAVING count(*) > 1
),
clean AS (
  SELECT * FROM tc WHERE (transcript_id, sidx, phase) NOT IN
    (SELECT (transcript_id, sidx, phase) FROM conf)
),
-- A2: signature per copy, then occurrence counts; A3 denominator per
-- TRANSCRIPT from its span: 2n haplotype slots when diploid
-- (autosome / X-PAR), males carry ONE X otherwise → m + 2*(n-m)
-- (get_haplotypes.py:221-235)
sigs AS (
  SELECT transcript_id, sidx, phase,
         string_agg(pos || ':' || ref || ':' || alt, ';' ORDER BY pos) AS signature
  FROM clean GROUP BY 1, 2, 3
),
haplos AS (
  SELECT s.transcript_id, s.signature, count(*) AS occurrence_count,
         -- exact 1e-5-unit frequency (the floor device): the A5
         -- merge SUMS these, and sums of rounded 5-decimal doubles
         -- reassociate — integer freq5 units make the merge exact
         CAST(floor(count(*) * 100000.0 /
               (CASE WHEN {_PAR_SQL.format(c="t.t_chrom", p="t.t_start")}
                     THEN 2.0 * c.n
                     ELSE 1.0 * c.m + 2 * (c.n - c.m) END) + 0.5) AS BIGINT) AS freq5
  FROM sigs s
  JOIN tr t ON t.transcript_id = s.transcript_id
  CROSS JOIN cohort c
  GROUP BY s.transcript_id, s.signature, t.t_chrom, t.t_start, c.n, c.m
),
-- change set per (transcript, signature) — identical across copies
hchg AS (
  SELECT DISTINCT s.transcript_id, s.signature, c.pos, c.ref, c.alt, c.off
  FROM sigs s JOIN clean c
    ON c.transcript_id = s.transcript_id AND c.sidx = s.sidx AND c.phase = s.phase
),
-- U3 pass 2 for SNPs: per-position overlay (no length changes)
hs AS (
  SELECT DISTINCT hc.transcript_id, hc.signature, tr.cdna, tr.start_off
  FROM hchg hc JOIN tr USING (transcript_id)
),
mut AS (
  SELECT mp.transcript_id, mp.signature,
         string_agg(coalesce(c.alt, mp.refch), '' ORDER BY mp.i) AS mutated
  FROM (
    SELECT h.transcript_id, h.signature, p.range AS i,
           substr(h.cdna, CAST(p.range + 1 AS INT), 1) AS refch
    FROM hs h, range(0, 2000) p
    WHERE p.range < length(h.cdna)
  ) mp
  LEFT JOIN hchg c ON c.transcript_id = mp.transcript_id
    AND c.signature = mp.signature AND c.off = mp.i
  GROUP BY 1, 2
),
-- pass 3 + UTR trim: full-frame translation, first stop at codon
-- index >= pstart, protein = [pstart, stop), change kept iff its
-- protein-location + 1 <= stop (check_protein_allele), haplotype kept
-- iff a kept NON-synonymous change remains
cx AS (
  SELECT g.transcript_id, g.signature, g.rf, g.pstart, g.i, c.aa
  FROM (
    SELECT m.transcript_id, m.signature, h.start_off % 3 AS rf,
           (h.start_off - h.start_off % 3) // 3 AS pstart, i.range AS i,
           upper(substr(m.mutated,
             CAST(h.start_off % 3 + i.range * 3 + 1 AS INT), 3)) AS codon
    FROM mut m
    JOIN hs h ON h.transcript_id = m.transcript_id AND h.signature = m.signature,
         range(0, 300) i
    WHERE h.start_off % 3 + i.range * 3 + 3 <= length(m.mutated)
  ) g JOIN codons c ON c.codon = g.codon
),
stops AS (
  SELECT transcript_id, signature, max(pstart) AS pstart,
         min(CASE WHEN aa = '*' AND i >= pstart THEN i END) AS stop_i,
         count(*) AS n_codons
  FROM cx GROUP BY 1, 2
),
prot AS (
  SELECT c.transcript_id, c.signature,
         coalesce(string_agg(c.aa, '' ORDER BY c.i)
           FILTER (WHERE c.i >= c.pstart AND (s.stop_i IS NULL OR c.i < s.stop_i)),
           '') AS protein
  FROM cx c JOIN stops s USING (transcript_id, signature)
  GROUP BY 1, 2
),
ann AS (
  SELECT hc.transcript_id, hc.signature, hc.pos, hc.ref, hc.alt, hc.off,
         (hc.off - h.start_off % 3) // 3 AS loc_full,
         cr.aa AS ref_aa, ca.aa AS alt_aa,
         coalesce(s.stop_i, s.n_codons) AS stop_eff,
         (h.start_off - h.start_off % 3) // 3 AS pstart
  FROM hchg hc
  JOIN hs h ON h.transcript_id = hc.transcript_id AND h.signature = hc.signature
  JOIN mut m ON m.transcript_id = hc.transcript_id AND m.signature = hc.signature
  JOIN stops s ON s.transcript_id = hc.transcript_id AND s.signature = hc.signature
  JOIN codons cr ON cr.codon = upper(substr(
    h.cdna, CAST(((hc.off - h.start_off % 3) // 3) * 3 + h.start_off % 3 + 1 AS INT), 3))
  JOIN codons ca ON ca.codon = upper(substr(
    m.mutated, CAST(((hc.off - h.start_off % 3) // 3) * 3 + h.start_off % 3 + 1 AS INT), 3))
),
res AS (
  SELECT transcript_id, signature,
         string_agg(off || ':' || ref || '>' || alt, ';' ORDER BY off)
           FILTER (WHERE loc_full >= pstart AND loc_full + 1 <= stop_eff)
           AS cdna_changes,
         bool_or(ref_aa <> alt_aa
                 AND loc_full >= pstart AND loc_full + 1 <= stop_eff) AS has_nonsyn
  FROM ann GROUP BY 1, 2
)
SELECT r.transcript_id, r.cdna_changes,
       min(p.protein) AS protein,
       CAST(sum(h.occurrence_count) AS BIGINT) AS occurrence_count,
       sum(h.freq5) / 100000.0 AS frequency
FROM res r
JOIN haplos h USING (transcript_id, signature)
JOIN prot p USING (transcript_id, signature)
WHERE r.has_nonsyn
GROUP BY 1, 2
"""


@register("domain_provar_snp_oracle", PROVAR_SNP_SQL)
def domain_provar_snp_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProVar pipeline (run_provar: interval join → U1 mapping
    → apply_variant kernel) on the synthetic cohort, value-checked
    end-to-end against a from-scratch SQL derivation — the cohort is
    SNP-only/'+'-strand by construction, the slice where the kernel is
    SQL-expressible. Projection: per-variant cDNA change string, codon
    consequence type, and the translated protein."""
    from prohap_spark.pipeline.synthetic import run_provar_e2e

    out = run_provar_e2e(spark, scale=1)
    return out.select(
        "transcript_id", "item_id", "cdna_changes", "variant_types", "protein"
    )


@register("domain_provar_fasta_oracle", PROVAR_FASTA_SQL)
def domain_provar_fasta_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ProVar FASTA stage end-to-end (run_provar →
    dedup_protein_fasta: A6 dedup by protein sequence, collected
    variant-id / reading-frame lists, min-id accession, F7 min-length)
    value-checked on the SNP slice — including the md5 content-hash
    variant ids (derived from the variant's identity columns, so the
    kernel plan executes once instead of once per rank branch)."""
    from prohap_spark.pipeline.provar import dedup_protein_fasta
    from prohap_spark.pipeline.synthetic import run_provar_e2e

    out = run_provar_e2e(spark, scale=1)
    return dedup_protein_fasta(out)


@register("domain_prohap_snp_oracle", PROHAP_SNP_SQL)
def domain_prohap_snp_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProHap pipeline (extract_haplotypes → U3 kernel →
    A5 merge) on the synthetic cohort, value-checked against a
    from-scratch SQL derivation of the SNP slice (haplotype grouping,
    frequencies, UTR-trimmed change lists, proteins) — including A3's
    sex-aware path: the cohort's X-non-PAR transcripts suppress male
    phase-2 copies and divide by m + 2*(n-m), its X-PAR1 transcripts
    stay fully diploid. haplotype_id is excluded — it is an
    engine-internal xxhash64 content hash with no SQL equivalent;
    (transcript_id, cdna_changes) is the natural key."""
    from prohap_spark.pipeline.synthetic import run_prohap_e2e

    out = run_prohap_e2e(spark, scale=1)
    return out.select(
        "transcript_id", "cdna_changes", "protein", "occurrence_count", "frequency"
    )


POSTPROCESS_CHAIN_SQL = f"""{_PROVAR_CTES},
-- frame-0 full translation WITH stops (proteins_all_frames frame 0)
pf AS (
  SELECT transcript_id, item_id, string_agg(aa, '' ORDER BY i) AS fseq
  FROM cx GROUP BY 1, 2
),
f0 AS (
  SELECT 'var' AS tag,
         item_id || '@' || transcript_id AS accession,
         'transcript:' || transcript_id AS description,
         fseq AS sequence
  FROM pf
),
fall AS (
  SELECT * FROM f0
  UNION ALL   -- UTR-tagged duplicate of a deterministic subset: its
              -- slot must be dropped while the var slot survives
  SELECT 'enshap', accession || '_UTR5', description, sequence
  FROM f0 WHERE accession LIKE '%0'
  UNION ALL   -- UTR-only entry (unique sequence): dropped entirely
  SELECT 'enshap', accession || '_UTR3', description, sequence || 'GG'
  FROM f0 WHERE accession LIKE '%0'
  UNION ALL   -- contaminant duplicate: tag priority must pick 'cont'
  SELECT 'cont', 'cont_' || accession, 'contaminant', sequence
  FROM f0 WHERE accession LIKE '%7'
),
frags AS (
  SELECT tag,
         CASE WHEN i = 0 THEN accession
              ELSE accession || '_frag' || i END AS accession,
         CASE WHEN i = 0 THEN description
              ELSE description || ' post_stop:1' END AS description,
         frag AS sequence
  FROM (
    SELECT tag, accession, description,
           unnest(string_split(sequence, '*')) AS frag,
           unnest(range(len(string_split(sequence, '*')))) AS i
    FROM fall
  )
  WHERE length(frag) >= 6
),
grouped AS (
  SELECT sequence,
         list_sort(list(DISTINCT tag)) AS tags,
         list(accession ORDER BY accession, description, tag) AS m_accs,
         list(description ORDER BY accession, description, tag) AS m_descs,
         list(tag ORDER BY accession, description, tag) AS m_tags
  FROM frags GROUP BY sequence
),
merged AS (
  SELECT CASE WHEN len(list_filter(tags, t -> t LIKE '%cont')) > 0 THEN 'cont'
              WHEN len(list_filter(tags, t -> t LIKE '%ensref')) > 0 THEN 'ensref'
              WHEN len(list_filter(tags, t -> t LIKE '%ensvar')) > 0 THEN 'ensvar'
              WHEN len(list_filter(tags, t -> t LIKE '%var')) > 0 THEN 'var'
              WHEN len(list_filter(tags, t -> t LIKE '%manual')) > 0 THEN 'manual'
              WHEN len(list_filter(tags, t -> t LIKE '%enshap')) > 0 THEN 'enshap'
              ELSE tags[1] END AS tag,
         m_accs[1] AS accession,
         'matching_proteins:' || array_to_string(m_accs, ';')
           || ' matching_tags:' || array_to_string(m_tags, ';') AS description,
         sequence
  FROM grouped
),
utr AS (
  SELECT tag, accession,
         list_zip(
           string_split(regexp_extract(description, 'matching_proteins:(\\S*)', 1), ';'),
           string_split(regexp_extract(description, 'matching_tags:(\\S*)', 1), ';')
         ) AS zipped,
         sequence
  FROM merged
),
kept AS (
  SELECT tag, accession,
         list_filter(zipped, z -> z[1] NOT LIKE '%UTR%') AS k,
         sequence
  FROM utr
  WHERE len(list_filter(zipped, z -> z[1] NOT LIKE '%UTR%')) > 0
)
SELECT tag, accession,
       'matching_proteins:'
         || array_to_string(list_transform(k, z -> z[1]), ';')
         || ' matching_tags:'
         || array_to_string(list_transform(k, z -> z[2]), ';') AS description,
       sequence
FROM kept
"""


@register("domain_postprocess_chain", POSTPROCESS_CHAIN_SQL)
def domain_postprocess_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The postprocess chain end-to-end on the SNP slice (reference
    Snakefile:324-386): stop-codon fragment split (remove_stop_codons)
    → A7 global duplicate merge with tag priority (merge_duplicate_seq)
    → F9 UTR-only removal (remove_UTR_seq). Input: the real ProVar
    full-frame translations (with stops) plus crafted UTR-tagged and
    contaminant duplicates that exercise slot-dropping, entry-dropping,
    and the cont>…>enshap priority."""
    from prohap_spark.pipeline.postprocess import (
        merge_duplicate_sequences,
        remove_utr_only_entries,
        split_stop_codon_fragments,
    )
    from prohap_spark.pipeline.synthetic import run_provar_e2e

    out = run_provar_e2e(spark, scale=1)
    f0 = out.select(
        F.lit("var").alias("tag"),
        F.concat("item_id", F.lit("@"), "transcript_id").alias("accession"),
        F.concat(F.lit("transcript:"), F.col("transcript_id")).alias("description"),
        F.element_at(F.split("proteins_all_frames", r"\|"), 1).alias("sequence"),
    ).dropDuplicates(["accession"])
    sub0 = f0.where(F.col("accession").endswith("0"))
    sub7 = f0.where(F.col("accession").endswith("7"))
    fall = (
        f0.unionByName(
            sub0.select(
                F.lit("enshap").alias("tag"),
                F.concat("accession", F.lit("_UTR5")).alias("accession"),
                "description",
                "sequence",
            )
        )
        .unionByName(
            sub0.select(
                F.lit("enshap").alias("tag"),
                F.concat("accession", F.lit("_UTR3")).alias("accession"),
                "description",
                F.concat("sequence", F.lit("GG")).alias("sequence"),
            )
        )
        .unionByName(
            sub7.select(
                F.lit("cont").alias("tag"),
                F.concat(F.lit("cont_"), F.col("accession")).alias("accession"),
                F.lit("contaminant").alias("description"),
                "sequence",
            )
        )
    )
    chain = remove_utr_only_entries(
        merge_duplicate_sequences(split_stop_codon_fragments(fall, min_len=6))
    )
    return chain.select("tag", "accession", "description", "sequence")


# ---- F10 sample-set projection, value-visible -----------------------
# Same derivation as PROHAP_SNP_SQL but with the sample METADATA
# restricted to sidx < 35: the pipeline's broadcast semi-join
# (extract_haplotypes, prohap.py:60-66 — "keep only VCF sample columns
# present in metadata", reference get_haplotypes sample alignment)
# must then drop the other 15 samples' genotype columns entirely,
# changing carriers, occurrence counts, denominators (n=35, m
# recomputed), and which haplotypes exist at all. The full-cohort SQL
# skipped the phase-1 meta join (a no-op there); the subset flavor
# needs it on BOTH phases.
_SUBSET_META = f"""FROM read_parquet('{_DIR}/meta/*.parquet')
  WHERE CAST(substr(sample_name, 2) AS INT) < 35"""
PROHAP_SUBSET_SQL = PROHAP_SNP_SQL.replace(
    f"FROM read_parquet('{_DIR}/meta/*.parquet')", _SUBSET_META
).replace(
    "CAST(split_part(gt, '|', 1) AS INT) AS allele FROM mg",
    "CAST(split_part(gt, '|', 1) AS INT) AS allele\n"
    "           FROM mg JOIN meta USING (sidx)",
)
assert PROHAP_SUBSET_SQL.count("sample_name, 2) AS INT) < 35") == 1
assert "allele\n           FROM mg JOIN meta USING (sidx)" in PROHAP_SUBSET_SQL


@register("f10_sample_subset_prohap", PROHAP_SUBSET_SQL)
def f10_sample_subset_prohap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 through the REAL pipeline: extract_haplotypes with a
    35-sample metadata subset — the broadcast semi-join projects away
    the 15 unlisted samples before phase explode, so carriers,
    occurrence counts, sex-aware denominators, and the surviving
    haplotype set all shift; the oracle re-derives everything from the
    same restricted metadata."""
    from prohap_spark.pipeline.prohap import annotate_haplotypes, extract_haplotypes
    from prohap_spark.pipeline.synthetic import materialized_cohort

    variants, transcripts, cdna, names, meta = materialized_cohort(spark, scale=1)
    meta_sub = meta.where(F.substring("sample_name", 2, 10).cast("int") < 35)
    haplos = extract_haplotypes(variants, names, meta_sub, transcripts, min_af=0.01)
    out = annotate_haplotypes(haplos, transcripts, cdna, min_count=1)
    return out.select(
        "transcript_id", "cdna_changes", "protein", "occurrence_count", "frequency"
    )


# ---- F8 occurrence-count threshold, value-visible -------------------
PROHAP_THRESHOLD_SQL = (
    "SELECT * FROM (\n" + PROHAP_SNP_SQL + "\n) WHERE occurrence_count >= 3"
)


@register("f8_count_threshold_prohap", PROHAP_THRESHOLD_SQL)
def f8_count_threshold_prohap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 through the REAL pipeline: annotate_haplotypes(min_count=3)
    applies the occurrence threshold AFTER the A5 duplicate merge
    (pipeline/prohap.py:340-342, reference frequency/count gate) — the
    oracle wraps the full-cohort derivation in the same post-merge
    filter, so a threshold applied at the wrong stage (pre-merge
    per-duplicate counts) diverges."""
    from prohap_spark.pipeline.prohap import annotate_haplotypes, extract_haplotypes
    from prohap_spark.pipeline.synthetic import materialized_cohort

    variants, transcripts, cdna, names, meta = materialized_cohort(spark, scale=1)
    haplos = extract_haplotypes(variants, names, meta, transcripts, min_af=0.01)
    out = annotate_haplotypes(haplos, transcripts, cdna, min_count=3)
    return out.select(
        "transcript_id", "cdna_changes", "protein", "occurrence_count", "frequency"
    )
