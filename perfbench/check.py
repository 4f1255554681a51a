"""Output checks: compare what a pipeline wrote against the generator's
model (``model.json``). Each check returns a list of problems; an empty
list means the output is correct."""

from __future__ import annotations

import csv
import glob
import gzip
from collections import Counter


def read_gz_tsv(path: str):
    """Rows of a gzip TSV as dicts (the pipelines' table output)."""
    with gzip.open(path, "rt", newline="") as f:
        yield from csv.DictReader(f, delimiter="\t")


def part_file(out_dir: str, pattern: str) -> str:
    parts = sorted(glob.glob(f"{out_dir}/{pattern}"))
    if len(parts) != 1:
        raise FileNotFoundError(f"expected one {pattern} under {out_dir}, found {len(parts)}")
    return parts[0]


def fasta_records(out_dir: str) -> int:
    with open(part_file(out_dir, "part-*")) as f:
        return sum(1 for line in f if line.startswith(">"))


def _diff(what: str, got: Counter, want: Counter) -> list[str]:
    missing, extra = want - got, got - want
    if not missing and not extra:
        return []
    return [f"{what}: {sum(missing.values())} missing (e.g. {list(missing)[:2]}), "
            f"{sum(extra.values())} unexpected (e.g. {list(extra)[:2]})"]


def check_prohap(outputs: dict, model: dict) -> list[str]:
    got = Counter(
        (r["TranscriptID"], r["DNA_changes"], int(r["occurrence_count"]))
        for r in read_gz_tsv(part_file(outputs["tsv"], "part-*.csv.gz"))
    )
    want = Counter(tuple(x) for x in model["haplotypes"])
    problems = _diff("haplotypes (TranscriptID, DNA_changes, occurrence_count)", got, want)
    if want and fasta_records(outputs["fasta"]) == 0:
        problems.append("haplotype FASTA is empty")
    return problems


def check_provar(outputs: dict, model: dict) -> list[str]:
    rows = list(read_gz_tsv(part_file(outputs["tsv"], "part-*.csv.gz")))
    got = Counter(f"{r['transcriptID']}|{r['vcfID']}" for r in rows)
    expected = model["rows"]
    problems = _diff("variant rows (transcript, variant)", got, Counter(expected.keys()))
    wrong = [
        (key, r["protein_change"], expected[key])
        for r in rows
        for key in [f"{r['transcriptID']}|{r['vcfID']}"]
        if expected.get(key) is not None and r["protein_change"] != expected[key]
    ]
    if wrong:
        problems.append(f"{len(wrong)} SNV protein_change strings differ, e.g. {wrong[:2]}")
    if expected and fasta_records(outputs["fasta"]) == 0:
        problems.append("variant FASTA is empty")
    return problems


def check_peptides(outputs: dict, model: dict) -> list[str]:
    with gzip.open(part_file(outputs["tsv"], "part-*.csv.gz"), "rt", newline="") as f:
        rows = csv.reader(f, delimiter="\t")
        header = next(rows)
        pid, acc, cls = (header.index(c) for c in ("peptide_id", "protein_accession", "pep_class"))
        got = Counter((r[pid], r[acc], r[cls]) for r in rows)
    want = Counter((p, a, c) for p, matches in model["peptides"].items() for a, c in matches)
    return _diff("peptide classes (peptide, protein, class)", got, want)


CHECKS = {
    "prohap_cohort": check_prohap,
    "provar_sites": check_provar,
    "peptide_report": check_peptides,
}
