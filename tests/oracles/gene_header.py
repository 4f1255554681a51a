"""J8 gene-header annotation: the postprocess header join
(``pipeline/postprocess.py::simplify_headers``, reference
fasta_simplify_headers.py:45-100) over a literal FASTA board — a
gene_name hit, the NULL-gene_name fallback to gene_id, a dimension miss
that passes through, and a contaminant header with no transcript token —
re-derived in SQL as a plain regex-extract left join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tests.oracles import register

_J8_FASTA = [
    # (tag, accession, description, sequence)
    ("ensref", "p1", "transcript:T1 pos:1", "MADEFG"),
    ("haplo", "p2", "transcript:T2 pos:7", "MVDEFG"),
    # gene_name NULL in the dim -> falls back to gene_id
    ("haplo", "p3", "transcript:T3 pos:9", "MMDEFG"),
    # transcript absent from the dim -> description unchanged
    ("var", "p4", "transcript:T9 pos:2", "MADRFG"),
    # no transcript: token at all -> unchanged
    ("cont", "p5", "contaminant keratin", "KKKKKK"),
]
_J8_DIM = [
    # (transcript_id, gene_id, gene_name)
    ("T1", "G1", "GENE1"),
    ("T2", "G2", "GENE2"),
    ("T3", "G3", None),
]

_SQL_J8_FASTA = ",\n      ".join(
    f"('{t}', '{a}', '{d}', '{s}')" for t, a, d, s in _J8_FASTA
)
_SQL_J8_DIM = ",\n      ".join(
    "('{}', '{}', {})".format(t, g, f"'{n}'" if n else "NULL")
    for t, g, n in _J8_DIM
)

J8_SQL = f"""
WITH fa(tag, accession, description, sequence) AS (VALUES
      {_SQL_J8_FASTA}),
tr(transcript_id, gene_id, gene_name) AS (VALUES
      {_SQL_J8_DIM})
SELECT f.tag, f.accession,
       CASE WHEN t.transcript_id IS NOT NULL
            THEN f.description || ' gene:' || coalesce(t.gene_name, t.gene_id)
            ELSE f.description END AS description,
       f.sequence
FROM fa f
LEFT JOIN tr t ON t.transcript_id = regexp_extract(f.description,
                                                   'transcript:(\\w+)', 1)
"""


@register("j8_gene_header_annotation", J8_SQL)
def j8_gene_header_annotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prohap_spark.pipeline.postprocess import simplify_headers

    fasta = spark.createDataFrame(
        _J8_FASTA, ["tag", "accession", "description", "sequence"]
    )
    tr = spark.createDataFrame(
        _J8_DIM, "transcript_id string, gene_id string, gene_name string"
    )
    return simplify_headers(fasta, tr).select(
        "tag", "accession", "description", "sequence"
    )
