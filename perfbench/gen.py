"""Seeded input generator for the domain benchmark.

Writes the text inputs the pipelines read (VCF, GTF, cDNA FASTA,
samples TSV, protein FASTA, peptide report, allele TSV) and, next to
them, ``model.json``: the expected results, computed from the
generator's own model of the data (its codon table, its genotype draws,
its mutations) and never from the program under test.

The generated world:

- transcripts on chromosomes 1, 2 and X (X both inside PAR1 and
  outside it), on both strands, with 3-5 exons, a 5' UTR, a stop-free
  coding sequence ending in one stop codon and a 3' UTR;
- VCF records that are SNVs, multi-allelic SNVs and exonic anchored
  indels, with a share of allele frequencies below the pipeline's
  ``phased_min_af``;
- a phased cohort whose males carry haploid calls on X outside PAR1;
- proteins, peptides drawn from them (some mutated) and allele
  positions on the proteins.

Everything derives from ``random.Random`` seeded by (workload, seed,
size), so the same arguments give byte-identical files. Inputs are
cached on disk under a directory keyed by those arguments.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections import Counter, defaultdict
from dataclasses import dataclass

GEN_VERSION = 2

BASES = "ACGT"
_COMP = str.maketrans("ACGT", "TGCA")
# standard genetic code, codons enumerated in TCAG order
_CODE_AAS = "FFLLSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG"
CODONS = {
    a + b + c: _CODE_AAS[16 * i + 4 * j + k]
    for i, a in enumerate("TCAG")
    for j, b in enumerate("TCAG")
    for k, c in enumerate("TCAG")
}
STOPS = [c for c, aa in CODONS.items() if aa == "*"]
SENSE = [c for c, aa in CODONS.items() if aa != "*"]
AMINO = "ACDEFGHIKLMNPQRSTVWY"

MIN_AF = 0.01        # the pipelines' phased_min_af
MIN_COUNT = 10       # the ProHap pipeline's haplo_min_count
PAR1 = (10_001, 2_781_479)
POPS = [("FIN", "EUR"), ("GBR", "EUR"), ("YRI", "AFR"), ("LWK", "AFR"), ("CHB", "EAS")]

# Input sizes per workload. "full" is what the benchmark measures;
# "tiny" is for the benchmark's own tests.
SIZES = {
    "prohap_cohort": {
        "full": {"transcripts": 120, "samples": 140, "sites": 6},
        "tiny": {"transcripts": 30, "samples": 40, "sites": 4},
    },
    "provar_sites": {
        "full": {"transcripts": 1400, "sites": 10},
        "tiny": {"transcripts": 40, "sites": 6},
    },
    "peptide_report": {
        "full": {"proteins": 5000, "peptides": 60000, "alleles": 40000},
        "tiny": {"proteins": 50, "peptides": 300, "alleles": 200},
    },
}


def revcomp(s: str) -> str:
    return s.translate(_COMP)[::-1]


def translate(s: str) -> str:
    return "".join(CODONS[s[i : i + 3]] for i in range(0, len(s) - 2, 3))


def il(s: str) -> str:
    return s.replace("I", "L")


@dataclass
class Transcript:
    tid: str
    chrom: str
    strand: str
    exons: list[tuple[int, int]]  # genomic, ascending, 1-based inclusive
    cdna: str                     # transcript orientation
    start: int                    # cDNA offset of the start codon
    stop: int                     # cDNA offset of the stop codon

    @property
    def plus(self) -> str:
        """The spliced exons in genome orientation."""
        return self.cdna if self.strand == "+" else revcomp(self.cdna)

    def genomic(self, plus_off: int) -> int:
        for s, e in self.exons:
            n = e - s + 1
            if plus_off < n:
                return s + plus_off
            plus_off -= n
        raise ValueError("offset past the last exon")

    def plus_offset(self, cdna_off: int) -> int:
        return cdna_off if self.strand == "+" else len(self.cdna) - 1 - cdna_off

    def exon_edges(self) -> list[int]:
        """Plus offsets at which an exon starts, plus the total length."""
        out, acc = [], 0
        for s, e in self.exons:
            out.append(acc)
            acc += e - s + 1
        return out + [acc]


class _Layout:
    """Places transcripts on chromosomes without overlaps: autosomes 1
    and 2, X inside PAR1, X outside the pseudo-autosomal regions."""

    def __init__(self):
        self.cursor = {"1": 1_000_000, "2": 1_000_000, "XPAR": PAR1[0] + 1_000, "X": 3_000_000}

    def place(self, lane: str, span: int) -> tuple[str, int]:
        if lane == "XPAR" and self.cursor["XPAR"] + span + 1_000 > PAR1[1]:
            lane = "X"
        start = self.cursor[lane]
        self.cursor[lane] = start + span + 2_000
        return ("X" if lane.startswith("X") else lane), start


def _make_transcript(rng: random.Random, idx: int, layout: _Layout) -> Transcript:
    n_ex = rng.randint(3, 5)
    u5, u3 = rng.randint(8, 40), rng.randint(8, 40)
    n_cod = rng.randint(90, 200)
    cds = "ATG" + "".join(rng.choices(SENSE, k=n_cod - 2)) + rng.choice(STOPS)
    rand = lambda n: "".join(rng.choices(BASES, k=n))  # noqa: E731
    cdna = rand(u5) + cds + rand(u3)
    length = len(cdna)
    # exon boundaries in transcript orientation: the start codon lies in
    # the first exon and the stop codon in the last, every exon >= 40 bp
    while True:
        cuts = sorted(rng.sample(range(u5 + 30, length - u3 - 30), n_ex - 1))
        bounds = [0] + cuts + [length]
        if all(b - a >= 40 for a, b in zip(bounds, bounds[1:])):
            break
    lens = [b - a for a, b in zip(bounds, bounds[1:])]
    strand = "+" if rng.random() < 0.5 else "-"
    genomic_lens = lens if strand == "+" else lens[::-1]
    introns = [rng.randint(80, 600) for _ in range(n_ex - 1)]
    span = sum(genomic_lens) + sum(introns)
    lane = ["1", "1", "1", "2", "2", "2", "X", "X", "XPAR", "XPAR"][idx % 10]
    chrom, pos = layout.place(lane, span)
    exons = []
    for i, n in enumerate(genomic_lens):
        exons.append((pos, pos + n - 1))
        pos += n + (introns[i] if i < len(introns) else 0)
    return Transcript(f"T{idx:06d}", chrom, strand, exons, cdna, u5, u5 + 3 * (n_cod - 1))


def _codon_range(tr: Transcript, cdna_off: int) -> tuple[int, int]:
    """Genomic (low, high) of the three cDNA bases from ``cdna_off``."""
    a = tr.genomic(tr.plus_offset(cdna_off))
    b = tr.genomic(tr.plus_offset(cdna_off + 2))
    return min(a, b), max(a, b)


def _gtf_lines(tr: Transcript, gene_no: int) -> list[str]:
    attrs = (
        f'gene_id "G{gene_no:06d}"; transcript_id "{tr.tid}"; gene_name "GENE{gene_no}"; '
        f'transcript_biotype "protein_coding"; tag "Ensembl_canonical";'
    )
    lo, hi = tr.exons[0][0], tr.exons[-1][1]
    row = lambda feat, s, e, extra="": "\t".join(  # noqa: E731
        [tr.chrom, "bench", feat, str(s), str(e), ".", tr.strand, ".", attrs + extra]
    )
    out = [row("gene", lo, hi), row("transcript", lo, hi)]
    ordered = tr.exons if tr.strand == "+" else tr.exons[::-1]
    for n, (s, e) in enumerate(ordered, 1):
        out.append(row("exon", s, e, f' exon_number "{n}";'))
    out.append(row("start_codon", *_codon_range(tr, tr.start)))
    out.append(row("stop_codon", *_codon_range(tr, tr.stop)))
    return out


def _fasta_record(header: str, seq: str) -> str:
    return ">" + header + "\n" + "\n".join(seq[i : i + 60] for i in range(0, len(seq), 60)) + "\n"


def _af(rng: random.Random) -> float:
    """A third of the alleles fall below MIN_AF; the rest are
    log-uniform up to 0.5."""
    if rng.random() < 1 / 3:
        return round(rng.uniform(0.001, 0.0095), 4)
    return round(10 ** rng.uniform(-2, -0.3), 4)


@dataclass
class Allele:
    chrom: str
    pos: int
    ref: str
    alt: str
    af: float
    tid: str
    synonymous: bool          # SNV whose codon keeps its amino acid
    protein_change: str | None  # expected ProVar string for checked SNVs


def _snv_protein_change(tr: Transcript, c: int, alt_base: str) -> str | None:
    """Expected ProVar ``protein_change`` for an SNV at cDNA offset
    ``c`` (transcript orientation): ``k:REF>k:ALT`` where k is the codon
    index counted from the annotated start codon and REF/ALT are the
    codon's amino acids before and after. Only SNVs downstream of the
    start codon with a whole codon around them are modelled."""
    if c < tr.start + 3:
        return None
    codon_from = tr.start + 3 * ((c - tr.start) // 3)
    if codon_from + 3 > len(tr.cdna):
        return None
    ref_codon = tr.cdna[codon_from : codon_from + 3]
    i = c - codon_from
    alt_codon = ref_codon[:i] + alt_base + ref_codon[i + 1 :]
    k = (c - tr.start) // 3
    return f"{k}:{CODONS[ref_codon]}>{k}:{CODONS[alt_codon]}"


def _inside_exon(tr: Transcript, plus_from: int, plus_to: int, margin: int) -> bool:
    edges = tr.exon_edges()
    return any(a + margin <= plus_from and plus_to < b - margin for a, b in zip(edges, edges[1:]))


def _cohort_sites(rng: random.Random, tr: Transcript, n_sites: int) -> list[list[Allele]]:
    """ProHap sites: SNVs (some multi-allelic) and in-frame anchored
    indels inside the coding sequence, one site per codon, sites at
    least three codons apart, no site creating a stop codon. Under
    these rules every carried change is applied and kept by the
    pipeline, and a change is synonymous exactly when its codon keeps
    its amino acid."""
    n_cod = (tr.stop - tr.start) // 3 + 1
    candidates = list(range(2, n_cod - 4))
    rng.shuffle(candidates)
    chosen: list[int] = []
    for j in candidates:
        if all(abs(j - k) >= 3 for k in chosen):
            chosen.append(j)
        if len(chosen) == n_sites:
            break
    plus = tr.plus
    sites = []
    for j in sorted(chosen):
        codon_from = tr.start + 3 * j
        kind = rng.random()
        if kind < 0.1:
            site = _inframe_indel(rng, tr, plus, codon_from)
            if site:
                sites.append(site)
            continue
        i = rng.randrange(3)
        c = codon_from + i
        ref_codon = tr.cdna[codon_from : codon_from + 3]
        alts = [b for b in BASES if b != tr.cdna[c]
                and CODONS[ref_codon[:i] + b + ref_codon[i + 1 :]] != "*"]
        if not alts:
            continue
        rng.shuffle(alts)
        n_alt = 2 if kind > 0.85 and len(alts) > 1 else 1
        p = tr.plus_offset(c)
        gpos = tr.genomic(p)
        site = []
        for b in alts[:n_alt]:
            alt_codon = ref_codon[:i] + b + ref_codon[i + 1 :]
            g_ref, g_alt = (tr.cdna[c], b) if tr.strand == "+" else (revcomp(tr.cdna[c]), revcomp(b))
            site.append(Allele(tr.chrom, gpos, g_ref, g_alt, _af(rng), tr.tid,
                               CODONS[alt_codon] == CODONS[ref_codon], None))
        sites.append(site)
    return sites


def _inframe_indel(rng: random.Random, tr: Transcript, plus: str, codon_from: int):
    """A 3-bp anchored deletion or insertion inside codon ``codon_from``'s
    neighbourhood, fully inside one exon, creating no stop codon."""
    c = codon_from + rng.randrange(3)
    deletion = rng.random() < 0.5
    # genome-orientation anchor: the leftmost base of the edited span
    p = tr.plus_offset(c) - (3 if tr.strand == "-" and deletion else 0)
    if not _inside_exon(tr, p, p + 4, 10):
        return None
    if deletion:
        ref, alt = plus[p : p + 4], plus[p]
    else:
        ref, alt = plus[p], plus[p] + "".join(rng.choice(BASES) for _ in range(3))
    mutated_plus = plus[:p] + alt + plus[p + len(ref):]
    mutated = mutated_plus if tr.strand == "+" else revcomp(mutated_plus)
    shift = len(alt) - len(ref)
    if "*" in translate(mutated[tr.start : tr.stop + shift]):
        return None
    return [Allele(tr.chrom, tr.genomic(p), ref, alt, _af(rng), tr.tid, False, None)]


def _sites_anywhere(rng: random.Random, tr: Transcript, n_sites: int) -> list[list[Allele]]:
    """ProVar sites: SNVs anywhere in the exons (UTRs included, stop
    gains allowed), some multi-allelic, plus exonic indels of 1-3 bp
    (frameshifts included) away from the exon edges; distinct positions."""
    plus = tr.plus
    length = len(plus)
    used: set[int] = set()
    sites = []
    for _ in range(n_sites):
        p = rng.randrange(length - 4)
        if any(q in used for q in range(p - 4, p + 5)):
            continue
        used.add(p)
        gpos = tr.genomic(p)
        if rng.random() < 0.08 and _inside_exon(tr, p, p + 4, 10):
            n = rng.randint(1, 3)
            if rng.random() < 0.5:
                ref, alt = plus[p : p + n + 1], plus[p]
            else:
                ref, alt = plus[p], plus[p] + "".join(rng.choice(BASES) for _ in range(n))
            sites.append([Allele(tr.chrom, gpos, ref, alt, _af(rng), tr.tid, False, None)])
            continue
        alts = [b for b in BASES if b != plus[p]]
        rng.shuffle(alts)
        c = tr.plus_offset(p)
        site = []
        for b in alts[: 2 if rng.random() < 0.15 else 1]:
            t_alt = b if tr.strand == "+" else revcomp(b)
            site.append(Allele(tr.chrom, gpos, plus[p], b, _af(rng), tr.tid, False,
                               _snv_protein_change(tr, c, t_alt)))
        sites.append(site)
    return sites


def _vcf_header(samples: list[str]) -> list[str]:
    cols = ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO"]
    if samples:
        cols += ["FORMAT", *samples]
    return [
        "##fileformat=VCFv4.2",
        '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">',
        *(['##FORMAT=<ID=GT,Number=1,Type=String,Description="Phased genotype">'] if samples else []),
        "\t".join(cols),
    ]


def _chrom_key(chrom: str) -> tuple:
    return (chrom == "X", chrom)


def _write_transcripts(d: str, transcripts: list[Transcript]) -> dict:
    gtf = [l for n, tr in enumerate(transcripts) for l in _gtf_lines(tr, n)]
    with open(f"{d}/annotation.gtf", "w") as f:
        f.write("#!genome-build bench\n" + "\n".join(gtf) + "\n")
    with open(f"{d}/cdna.fa", "w") as f:
        for tr in transcripts:
            f.write(_fasta_record(f"{tr.tid}.1 cdna chromosome:bench:{tr.chrom} transcript_biotype:protein_coding", tr.cdna))
    return {"gtf_lines": len(gtf), "cdna_records": len(transcripts)}


def _write_samples(rng: random.Random, d: str, n: int) -> tuple[list[str], list[str]]:
    samples = [f"S{i:05d}" for i in range(n)]
    sexes = ["male" if rng.random() < 0.5 else "female" for _ in samples]
    with open(f"{d}/samples.tsv", "w") as f:
        f.write("Sample name\tSex\tPopulation code\tSuperpopulation code\n")
        for s, sex in zip(samples, sexes):
            pop, sup = rng.choice(POPS)
            f.write(f"{s}\t{sex}\t{pop}\t{sup}\n")
    return samples, sexes


def _gen_prohap(rng: random.Random, d: str, size: dict) -> tuple[dict, dict]:
    layout = _Layout()
    transcripts = [_make_transcript(rng, i, layout) for i in range(size["transcripts"])]
    counts = _write_transcripts(d, transcripts)
    samples, sexes = _write_samples(rng, d, size["samples"])

    sites = [s for tr in transcripts for s in _cohort_sites(rng, tr, size["sites"])]
    sites.sort(key=lambda s: (_chrom_key(s[0].chrom), s[0].pos))
    # carried[(tid, sample, phase)] -> alleles passing the AF filter
    carried: dict[tuple, list[Allele]] = defaultdict(list)
    lines = _vcf_header(samples)
    n_calls = 0
    for k, site in enumerate(sites):
        a0 = site[0]
        haploid_males = a0.chrom == "X" and not (PAR1[0] <= a0.pos <= PAR1[1])
        cum = []
        acc = 0.0
        for a in site:
            acc += a.af
            cum.append(acc)
        gts = []
        for si, sex in enumerate(sexes):
            phases = 1 if (haploid_males and sex == "male") else 2
            idx = []
            for ph in range(phases):
                u = rng.random()
                allele = next((n + 1 for n, c in enumerate(cum) if u < c), 0)
                idx.append(allele)
                if allele and site[allele - 1].af >= MIN_AF:
                    carried[(a0.tid, si, ph)].append(site[allele - 1])
            gts.append("|".join(map(str, idx)))
        n_calls += len(gts)
        lines.append("\t".join([
            a0.chrom, str(a0.pos), f"rs{k}", a0.ref, ",".join(a.alt for a in site),
            ".", "PASS", "AF=" + ",".join(f"{a.af:g}" for a in site), "GT", *gts,
        ]))
    with open(f"{d}/cohort.vcf", "w") as f:
        f.write("\n".join(lines) + "\n")

    # expected haplotypes: group the carried-variant sets of every
    # transcript copy, drop synonymous-only sets, keep count >= MIN_COUNT
    groups: Counter = Counter()
    for (tid, _s, _ph), alleles in carried.items():
        if all(a.synonymous for a in alleles):
            continue
        key = ";".join(f"{a.pos}:{a.ref}>{a.alt}" for a in sorted(alleles, key=lambda a: (a.pos, a.ref, a.alt)))
        groups[(tid, key)] += 1
    expected = sorted([tid, key, n] for (tid, key), n in groups.items() if n >= MIN_COUNT)
    counts.update(vcf_records=len(sites), genotype_calls=n_calls, samples=len(samples),
                  transcripts=len(transcripts), expected_haplotypes=len(expected))
    return counts, {"haplotypes": expected}


def _gen_provar(rng: random.Random, d: str, size: dict) -> tuple[dict, dict]:
    layout = _Layout()
    transcripts = [_make_transcript(rng, i, layout) for i in range(size["transcripts"])]
    counts = _write_transcripts(d, transcripts)
    # the ProVar entry point reads the config's samples table too
    samples, _sexes = _write_samples(rng, d, 4)
    sites = [s for tr in transcripts for s in _sites_anywhere(rng, tr, size["sites"])]
    sites.sort(key=lambda s: (_chrom_key(s[0].chrom), s[0].pos))
    lines = _vcf_header([])
    rows = {}
    for k, site in enumerate(sites):
        a0 = site[0]
        lines.append("\t".join([
            a0.chrom, str(a0.pos), f"rs{k}", a0.ref, ",".join(a.alt for a in site),
            ".", "PASS", "AF=" + ",".join(f"{a.af:g}" for a in site),
        ]))
        for a in site:
            if a.af >= MIN_AF:
                rows[f"{a.tid}|{a.chrom}_{a.pos}_{a.ref}_{a.alt}"] = a.protein_change
    with open(f"{d}/sites.vcf", "w") as f:
        f.write("\n".join(lines) + "\n")
    counts.update(vcf_records=len(sites), transcripts=len(transcripts), samples=len(samples),
                  expected_rows=len(rows))
    return counts, {"rows": rows}


def _gen_peptides(rng: random.Random, d: str, size: dict) -> tuple[dict, dict]:
    rand_aa = lambda n: "".join(rng.choices(AMINO, k=n))  # noqa: E731
    proteins = {f"P{i:06d}": "M" + rand_aa(rng.randint(150, 500)) for i in range(size["proteins"])}
    accs = list(proteins)
    with open(f"{d}/proteins.fa", "w") as f:
        for acc, seq in proteins.items():
            f.write(_fasta_record(f"ensref|{acc}|gene:G{acc[1:]}", seq))
    alleles: dict[str, list[tuple[str, int]]] = defaultdict(list)  # acc -> [(id, pos)]
    n_alleles = 0

    def add_allele(acc: str, pos: int) -> None:
        nonlocal n_alleles
        alleles[acc].append((f"a{n_alleles}", pos))
        n_alleles += 1

    report = ["ID\tSequence\tProteins\tPositions"]
    peptides = []
    for i in range(size["peptides"]):
        src = rng.choice(accs)
        seq = proteins[src]
        n = rng.randint(7, 25)
        start = rng.randrange(1, len(seq) - n)  # 1-based; residue 1 is M
        pep = seq[start - 1 : start - 1 + n]
        n_mut = 0 if rng.random() < 0.7 else (1 if rng.random() < 0.7 else 2)
        offsets = sorted(rng.sample(range(n), n_mut))
        for off in offsets:
            new = rng.choice([a for a in AMINO if il(a) != il(pep[off])])
            pep = pep[:off] + new + pep[off + 1 :]
        if n_mut and il(pep) in il(seq):
            n_mut, pep = 0, seq[start - 1 : start - 1 + n]  # mutation hit a repeat
        for off in offsets if n_mut else []:
            add_allele(src, start + off)
        others = rng.sample(accs, rng.randint(0, 2))
        matches = [(src, start)] + [(o, rng.randrange(1, len(proteins[o]))) for o in others if o != src]
        rng.shuffle(matches)
        pid = f"pep{i}"
        report.append(f"{pid}\t{pep}\t{';'.join(m[0] for m in matches)}\t{';'.join(str(m[1]) for m in matches)}")
        peptides.append((pid, pep, matches, n_mut > 0))
    while n_alleles < size["alleles"]:
        acc = rng.choice(accs)
        add_allele(acc, rng.randrange(1, len(proteins[acc]) + 1))
    with open(f"{d}/peptides.tsv", "w") as f:
        f.write("\n".join(report) + "\n")
    with open(f"{d}/alleles.tsv", "w") as f:
        f.write("protein_accession\tallele_id\tprotein_pos\n")
        for acc, lst in alleles.items():
            for aid, pos in lst:
                f.write(f"{acc}\t{aid}\t{pos}\n")

    # expected classes per peptide: canonical where the (I/L-folded)
    # peptide is contained in the named protein; when any match is
    # canonical only canonical matches remain; other matches are
    # classed by how many distinct alleles fall in the peptide window
    expected = {}
    for pid, pep, matches, mutated in peptides:
        rows = []
        for acc, pos in matches:
            if il(pep) in il(proteins[acc]):
                rows.append((acc, "canonical"))
                continue
            n_cov = len({aid for aid, p in alleles[acc] if pos <= p < pos + len(pep)})
            cls = "multi-variant" if n_cov > 1 else "single-variant" if n_cov == 1 else "variant-no-ref"
            rows.append((acc, cls))
        if any(c == "canonical" for _a, c in rows):
            rows = [r for r in rows if r[1] == "canonical"]
        # the generator's truth: a peptide is canonical iff unmutated
        assert (rows[0][1] == "canonical") != mutated, pid
        expected[pid] = sorted(rows)
    counts = {"proteins": len(proteins), "peptides": len(peptides), "alleles": n_alleles,
              "peptide_matches": sum(len(p[2]) for p in peptides),
              "mutated_peptides": sum(p[3] for p in peptides)}
    return counts, {"peptides": expected}


GENERATORS = {
    "prohap_cohort": _gen_prohap,
    "provar_sites": _gen_provar,
    "peptide_report": _gen_peptides,
}


def inputs(cache_root: str, workload: str, seed: int, size: str = "full") -> tuple[str, bool]:
    """Directory holding the workload's generated inputs and
    ``model.json``, generating them first unless cached. Returns
    (directory, whether it was generated now)."""
    shape = "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload][size].items()))
    d = f"{cache_root}/v{GEN_VERSION}-{workload}-{shape}-{seed}"
    if os.path.exists(f"{d}/model.json"):
        return d, False
    stage = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    rng = random.Random(f"{workload}:{seed}:{size}")
    counts, model = GENERATORS[workload](rng, stage, SIZES[workload][size])
    counts["input_bytes"] = sum(os.path.getsize(f"{stage}/{n}") for n in os.listdir(stage))
    with open(f"{stage}/model.json", "w") as f:
        json.dump({"counts": counts, **model}, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(stage, d)
    return d, True


def load_model(d: str) -> dict:
    with open(f"{d}/model.json") as f:
        return json.load(f)
