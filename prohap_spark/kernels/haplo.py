"""U2/U3 — haplotype/variant cDNA construction and protein-consequence
annotation (the irreducible per-group kernel).

Re-implements the semantics of /root/reference/src/modules/
process_haplotypes.py:109-505 (three-pass haplotype flavor) and
process_variants.py:113-267 (single-variant ProVar flavor) as pure
Python, executed inside Arrow-batched ``mapInPandas`` stages — the
Spark analog of the reference's multiprocessing.Pool-per-transcript
(process_haplotypes.py:537-538).

Pipeline per haplotype (reference 3-pass structure):
1. per-change bookkeeping: liftover-artifact changes whose ALT already
   equals the cDNA slice are dropped (process_haplotypes.py:207-213);
   splice junctions and frameshifts flagged; the start codon tracked
   through upstream indels — a change overlapping the start, or a
   frameshift upstream of it (unless force_rf), loses the start
   (check_start_change; skip_start_loss drops such haplotypes
   entirely, :231-244);
2. apply changes in transcript order with a cumulative length offset
   (:261-285); a REF-vs-cDNA mismatch invalidates the WHOLE haplotype
   (:276-281);
3. per-change protein consequence from affected-codon windows in ref
   vs mutated cDNA (all 3 frames when the frame is unknown,
   get_affected_codons, coordinates_toolbox.py:139-172), then
   translation; with ignore_utr the UTRs are trimmed and UTR-only
   variants removed AFTER all edits (start/stop may have moved,
   :372-401), and haplotypes with only synonymous changes left are
   suppressed (:393-395).

ProVar flavor (apply_variant): one change per row, no liftover-ALT
check, no UTR trim, synonymous kept in the change string
(process_variants.py:113-229), plus the upstream start-gain ATG scan
(check_start_gain, :35-47). The reference writes its ProVar
``start_missing`` column inverted (:226 stores ``is not None``); this
implementation keeps the correct polarity.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from math import ceil, floor

import numpy as np

from prohap_spark.functions.genomics import CODON_TABLE
from prohap_spark.kernels.coordinates import check_start_change

COMPLEMENT = str.maketrans("ACGTacgt", "TGCAtgca")


def reverse_complement(seq: str) -> str:
    return seq.translate(COMPLEMENT)[::-1]


def translate_codons(seq: str, to_stop: bool = True) -> str:
    """Codon-by-codon dict translation: 'X' for any codon outside the
    standard table, trailing partial codon dropped, ``to_stop`` cuts at
    the first stop (exclusive). Used for the few-codon windows of
    ``affected_codons``, where it beats the array set-up of
    ``translate``, and as the reference ``translate`` must equal."""
    s = seq.upper()
    get = CODON_TABLE.get
    aas: list[str] = []
    app = aas.append
    for i in range(0, len(s) - 2, 3):
        aa = get(s[i : i + 3], "X")
        if aa == "*" and to_stop:
            break
        app(aa)
    return "".join(aas)


def _to_stop(protein: str, start: int) -> str:
    """``protein`` from residue ``start`` up to its first stop."""
    stop = protein.find("*", start)
    return protein[start:] if stop < 0 else protein[start:stop]


# base byte -> code 0-3 for ACGT in either case, 4 for anything else;
# a codon's index is c0*25 + c1*5 + c2 into a 125-entry residue table
# whose entries with any code-4 base are 'X'
_BASE_CODE = np.full(256, 4, np.uint8)
for _i, _b in enumerate(b"ACGT"):
    _BASE_CODE[_b] = _BASE_CODE[_b + 32] = _i
_CODON_WEIGHTS = np.array([25, 5, 1], np.uint8)
_RESIDUES = np.frombuffer(
    "".join(
        CODON_TABLE.get(a + b + c, "X") for a in "ACGTN" for b in "ACGTN" for c in "ACGTN"
    ).encode("ascii"),
    np.uint8,
)


def translate(seq: str, to_stop: bool = True) -> str:
    """Translate a DNA string in frame 0, same result as
    ``translate_codons``. The kernel translates whole mutated
    transcripts (a few hundred codons and up per item), so the
    lookup runs over the whole sequence as arrays: bytes -> base codes
    -> codon index -> residue, then one cut at the first stop. Non-ASCII
    input takes the codon loop, whose ``str.upper`` may change the
    string's length."""
    if not seq.isascii():
        return translate_codons(seq, to_stop)
    n = len(seq) - len(seq) % 3
    codes = _BASE_CODE[np.frombuffer(seq.encode("ascii"), np.uint8, n)]
    protein = _RESIDUES[codes.reshape(-1, 3) @ _CODON_WEIGHTS].tobytes().decode("ascii")
    return _to_stop(protein, 0) if to_stop else protein


@dataclass
class Change:
    """One DNA change in transcript (RNA) coordinates, 0-based, with
    alleles already splice-truncated and transcript-oriented."""

    rna_pos: int
    ref: str
    alt: str
    vcf_id: str = ""
    junction: int | None = None  # affected splice junction, if any


def affected_codons(
    cdna: str, allele_loc: int, allele_len: int, reading_frame: int, protein_start: int
) -> tuple[list[str], list[int]]:
    """Residues covered by the codon-aligned window around an allele,
    plus their protein locations (negative in the 5' UTR). One entry
    when the reading frame is known, three otherwise. Mirrors
    get_affected_codons (coordinates_toolbox.py:139-172)."""
    aas: list[str] = []
    locs: list[int] = []
    if reading_frame == -1:
        for rf in range(3):
            locs.append(int(floor((allele_loc - rf) / 3)))
    else:
        locs = [int(floor((allele_loc - reading_frame) / 3) - protein_start)]

    frames = [max(reading_frame, 0)] + ([1, 2] if reading_frame == -1 else [])
    for rf in frames:
        bp_from = int(floor((allele_loc - rf) / 3) * 3 + rf)
        bp_from = max(max(bp_from, 0), rf)
        bp_to = int(ceil((allele_loc + allele_len - rf) / 3) * 3 + rf)
        if bp_to - bp_from > 2:
            aas.append(translate_codons(cdna[bp_from:bp_to], to_stop=False))
        else:
            aas.append("-")
    return aas, locs


def check_protein_allele(change: str, start: int, stop: int) -> bool:
    """Does a formatted protein change fall inside the translated CDS
    [start, stop)? Mirrors the reference's string-parsing check
    (process_haplotypes.py:45-48) including its use of the formatted
    ALT segment's length."""
    loc = int(change.split(":")[1].split(">")[1]) + start
    alt_len = len(change.split(":")[2])
    return (loc >= start) and (loc + alt_len <= stop)


def check_start_gain(mutated_cdna: str, rna_location: int, alt_len: int) -> int:
    """Scan the codons an ALT allele touches for a variant-created ATG
    (upstream start gain). Returns the ATG's RNA offset or -1. Mirrors
    check_start_gain (process_variants.py:35-47)."""
    bp_from = int(floor(rna_location / 3) * 3)
    bp_to = int(ceil((rna_location + alt_len - 2) / 3) * 3 + 2)
    for i in range(bp_from, bp_to - 3):
        if mutated_cdna[i : i + 3] == "ATG":
            return i
    return -1


@dataclass
class HaploResult:
    cdna: str                 # mutated cDNA (UTR-trimmed when ignore_utr)
    protein: str              # translated CDS (UTR/stop-trimmed when rf known)
    reading_frame: int        # -1 when unknown or start lost
    protein_prefix_length: int
    start_missing: bool
    start_lost: bool
    applied: list[Change] = field(default_factory=list)
    liftover_dropped: list[Change] = field(default_factory=list)
    cdna_change_strs: list[str] = field(default_factory=list)
    # per-change protein annotations ('|'-joined across frames when the
    # frame is unknown); all_* includes synonymous changes
    all_protein_changes: list[str] = field(default_factory=list)
    protein_changes: list[str] = field(default_factory=list)
    consequences: list[str] = field(default_factory=list)
    junctions: list[int] = field(default_factory=list)
    # FASTA sequences: [CDS translation] when frame known, else the 3
    # full-frame translations (with stops, process_haplotypes.py:456-478)
    proteins_by_frame: list[str] = field(default_factory=list)
    start_gain: int = -1      # ProVar flavor only: gained-ATG offset


def _dna_var_type(ch: Change) -> str:
    if ch.junction is not None:
        return "splice"
    if len(ch.ref) == len(ch.alt):
        return "SNP"
    return "indel"


def _protein_annotations(
    cdna: str,
    mutated: str,
    applied: list[Change],
    dna_types: list[str],
    frameshifts: list[bool],
    rf_ref: int,
    protein_start_ref: int,
    rf: int,
    protein_start: int,
) -> tuple[list[str], list[str], list[str]]:
    """Pass 3 (process_haplotypes.py:296-359): per-change consequence
    typing and `loc:REF>loc:ALT` strings from codon windows in the
    reference vs mutated cDNA, with frameshift propagation."""
    all_changes: list[str] = []
    nonsyn_changes: list[str] = []
    var_types: list[str] = []
    has_frameshift = False
    seq_diff = 0
    for ch, dna_type, is_fs in zip(applied, dna_types, frameshifts):
        ref_len, alt_len = len(ch.ref), len(ch.alt)
        ref_aas, locs_ref = affected_codons(cdna, ch.rna_pos, ref_len, rf_ref, protein_start_ref)
        alt_aas, locs_alt = affected_codons(
            mutated, ch.rna_pos + seq_diff, alt_len, rf, protein_start
        )
        rf_changes: list[str] = []
        rf_conseq: list[str] = []
        is_syn: list[bool] = []
        for i, ref_aa in enumerate(ref_aas):
            alt_aa = alt_aas[i] if i < len(alt_aas) else "-"
            loc_ref = locs_ref[i] if i < len(locs_ref) else locs_ref[-1]
            loc_alt = locs_alt[i] if i < len(locs_alt) else locs_alt[-1]
            if dna_type == "splice":
                rf_conseq.append("splice_variant")
            elif dna_type == "start_lost":
                rf_conseq.append("start_lost")
            elif ref_aa == alt_aa:
                rf_conseq.append("synonymous")
            elif "*" in ref_aa and "*" not in alt_aa:
                rf_conseq.append("stop_lost")
            elif "*" not in ref_aa and "*" in alt_aa:
                rf_conseq.append("stop_gained")
            elif dna_type == "SNP":
                rf_conseq.append("SAV")
            else:  # indel
                rf_conseq.append("frameshift" if is_fs else "inframe_indel")
            is_syn.append(ref_aa == alt_aa)

            change_str = f"{loc_ref}:{ref_aa}>{loc_alt}:{alt_aa}"
            if is_fs:
                change_str += "(+fs)"
            elif has_frameshift:
                change_str += "(fs)"
                rf_conseq[-1] += "_after_fs"
            rf_changes.append(change_str)
            has_frameshift = has_frameshift or (is_fs and loc_ref >= 0)

        if not all(is_syn):
            nonsyn_changes.append("|".join(rf_changes))
        all_changes.append("|".join(rf_changes))
        var_types.append("|".join(rf_conseq))
        seq_diff += alt_len - ref_len
    return all_changes, nonsyn_changes, var_types


def apply_haplotype(
    cdna: str,
    changes: list[Change],
    start_rna: int,
    rf_from_stop: int = -1,
    force_rf: bool = False,
    skip_start_loss: bool = True,
    ignore_utr: bool = True,
) -> HaploResult | None:
    """Apply a haplotype's changes (transcript coordinates/orientation,
    alleles pre-truncated) to the reference cDNA and annotate protein
    consequences. Returns None when the reference would drop the whole
    haplotype: start lost under skip_start_loss, a REF/cDNA mismatch,
    or no non-synonymous change surviving the UTR trim.

    ``start_rna``: RNA offset of the annotated start codon, -1 if the
    transcript has none. ``rf_from_stop``: stop-codon-derived frame
    fallback, used only under ``force_rf`` (process_haplotypes.py:
    147-154)."""
    ordered = sorted(changes, key=lambda c: (c.rna_pos, c.ref, c.alt))
    start_missing = start_rna < 0
    has_start = not start_missing

    if has_start:
        start_loc = start_rna
        rf = start_rna % 3
        protein_start = (start_loc - rf) // 3
    elif rf_from_stop >= 0 and force_rf:
        start_loc, rf, protein_start = 0, rf_from_stop, 0
    else:
        start_loc, rf, protein_start = 0, -1, 0
    rf_ref, protein_start_ref = rf, protein_start

    # pass 1 — liftover drop, splice/frameshift bookkeeping, start track
    applied: list[Change] = []
    lift: list[Change] = []
    dna_types: list[str] = []
    frameshifts: list[bool] = []
    junctions: list[int] = []
    start_lost = False
    for ch in ordered:
        # liftover artifact: REF absent but ALT already present in this
        # build's cDNA (process_haplotypes.py:207-213). Deliberate
        # divergence: the reference tests only "ALT == cDNA slice",
        # which also matches every '+'-strand VCF-anchored deletion
        # (the anchor base IS the cDNA base) while keeping the same
        # deletion on '-' strand — here the artifact test additionally
        # requires the REF not to match, preserving anchored indels
        # symmetrically on both strands.
        ref_matches = (
            cdna[ch.rna_pos : ch.rna_pos + len(ch.ref)].upper() == ch.ref.upper()
        )
        alt_matches = (
            ch.alt != ""
            and cdna[ch.rna_pos : ch.rna_pos + len(ch.alt)].upper() == ch.alt.upper()
        )
        if not ref_matches and alt_matches:
            lift.append(ch)
            continue
        applied.append(ch)
        if ch.junction is not None and ch.junction not in junctions:
            junctions.append(ch.junction)
        dna_types.append(_dna_var_type(ch))
        frameshifts.append(abs(len(ch.ref) - len(ch.alt)) % 3 != 0)

        if has_start and rf > -1:
            start_loc, rf = check_start_change(
                start_loc, rf, ch.rna_pos, len(ch.ref), len(ch.alt), force_rf
            )
            if start_loc == -1:
                if skip_start_loss:
                    return None
                dna_types[-1] = "start_lost"
                start_loc = 0
                protein_start = 0
                protein_start_ref = 0
                rf_ref = -1
                start_lost = True
            else:
                protein_start = (start_loc - rf) // 3

    if not applied:
        return None

    # pass 2 — cumulative-offset application; REF mismatch drops the
    # whole haplotype (reference :276-281)
    mutated = cdna
    seq_diff = 0
    cdna_change_strs: list[str] = []
    for ch in applied:
        cdna_change_strs.append(f"{ch.rna_pos}:{ch.ref or '-'}>{ch.alt or '-'}")
        loc = ch.rna_pos + seq_diff
        if mutated[loc : loc + len(ch.ref)].upper() != ch.ref.upper():
            return None
        mutated = mutated[:loc] + ch.alt + mutated[loc + len(ch.ref) :]
        seq_diff += len(ch.alt) - len(ch.ref)

    # pass 3 — per-change protein consequences
    all_prot, nonsyn_prot, var_types = _protein_annotations(
        cdna, mutated, applied, dna_types, frameshifts,
        rf_ref, protein_start_ref, rf, protein_start,
    )

    if rf > -1:
        protein_full = translate(mutated[rf:], to_stop=False)
        cdna_start = rf + protein_start * 3
        if ignore_utr:
            first_stop = protein_full.find("*", protein_start)
            cdna_stop = rf + first_stop * 3
            if first_stop == -1:
                first_stop = len(protein_full)
                cdna_stop = len(mutated)
            keep = [check_protein_allele(c, protein_start, first_stop) for c in all_prot]
            applied = [c for c, k in zip(applied, keep) if k]
            cdna_change_strs = [c for c, k in zip(cdna_change_strs, keep) if k]
            var_types = [c for c, k in zip(var_types, keep) if k]
            all_prot = [c for c, k in zip(all_prot, keep) if k]
            nonsyn_prot = [
                c for c in nonsyn_prot if check_protein_allele(c, protein_start, first_stop)
            ]
            if not nonsyn_prot:
                return None  # synonymous-only haplotype (:393-395)
            protein = protein_full[protein_start:first_stop]
            mutated_out = mutated[cdna_start:max(cdna_stop, cdna_start)]
            prefix_out = 0
        else:
            protein = protein_full
            mutated_out = mutated
            prefix_out = protein_start
        proteins = [protein]
    else:
        # unknown frame: keep only if some non-synonymous change exists,
        # emit all 3 full-frame translations (:456-478)
        if not nonsyn_prot:
            return None
        proteins = [translate(mutated[f:], to_stop=False) for f in range(3)]
        protein = _to_stop(proteins[0], 0)
        mutated_out = mutated
        prefix_out = protein_start

    return HaploResult(
        cdna=mutated_out,
        protein=protein,
        reading_frame=rf,
        protein_prefix_length=prefix_out,
        start_missing=start_missing,
        start_lost=start_lost,
        applied=applied,
        liftover_dropped=lift,
        cdna_change_strs=cdna_change_strs,
        all_protein_changes=all_prot,
        protein_changes=nonsyn_prot,
        consequences=var_types,
        junctions=junctions,
        proteins_by_frame=proteins,
    )


def apply_variant(
    cdna: str,
    change: Change,
    start_rna: int,
    rf_from_stop: int = -1,
    force_rf: bool = False,
) -> HaploResult:
    """ProVar flavor (process_variants.py:113-229): one change per row,
    REF assumed pre-validated by the caller (the genomic ±1 bp jitter
    retry needs exon context and lives in the Spark wrapper). No UTR
    trim, synonymous changes kept, plus the start-gain ATG scan."""
    start_missing = start_rna < 0
    if not start_missing:
        start_loc = start_rna
        rf = start_rna % 3
        protein_start = (start_loc - rf) // 3
    elif rf_from_stop >= 0 and force_rf:
        start_loc, rf, protein_start = 0, rf_from_stop, 0
    else:
        start_loc, rf, protein_start = 0, -1, 0

    ref_len, alt_len = len(change.ref), len(change.alt)
    mutated = (
        cdna[: change.rna_pos] + change.alt + cdna[change.rna_pos + ref_len :]
    )

    rf_variant, protein_start_variant = rf, protein_start
    start_lost = False
    if not start_missing:
        new_start, rf_variant = check_start_change(
            start_loc, rf, change.rna_pos, ref_len, alt_len, force_rf
        )
        if new_start == -1:
            protein_start_variant = 0
            rf_variant = -1
            start_lost = True
        else:
            protein_start_variant = (new_start - rf) // 3

    dna_type = "start_lost" if start_lost else _dna_var_type(change)
    is_fs = abs(ref_len - alt_len) % 3 != 0
    ref_aas, locs_ref = affected_codons(cdna, change.rna_pos, ref_len, rf_variant, protein_start)
    alt_aas, locs_alt = affected_codons(
        mutated, change.rna_pos, alt_len, rf_variant, protein_start_variant
    )
    rf_changes: list[str] = []
    rf_conseq: list[str] = []
    for i, ref_aa in enumerate(ref_aas):
        alt_aa = alt_aas[i] if i < len(alt_aas) else "-"
        s = f"{locs_ref[i]}:{ref_aa}>{locs_alt[i]}:{alt_aa}"
        if is_fs:
            s += "(+fs)"
        rf_changes.append(s)
        if dna_type == "splice":
            rf_conseq.append("splice_variant")
        elif dna_type == "start_lost":
            rf_conseq.append("start_lost")
        elif ref_aa == alt_aa:
            rf_conseq.append("synonymous")
        elif "*" in ref_aa and "*" not in alt_aa:
            rf_conseq.append("stop_lost")
        elif "*" not in ref_aa and "*" in alt_aa:
            rf_conseq.append("stop_gained")
        elif dna_type == "SNP":
            rf_conseq.append("SAV")
        else:
            rf_conseq.append("frameshift" if is_fs else "inframe_indel")

    change_str = "|".join(rf_changes)
    frames = [rf_variant] if rf_variant > -1 else [0, 1, 2]
    proteins = [translate(mutated[f:], to_stop=False) for f in frames]
    # the protein runs from the (shifted) start to the first stop of the
    # frame's translation; with the frame unknown protein_start_variant
    # is 0 and the protein is frame 0 up to its first stop
    if protein_start_variant >= 0:
        protein = _to_stop(proteins[0], protein_start_variant)
    else:
        # a frameshift just upstream of the start under force_rf can put
        # the new start below the old frame offset: the slice start is
        # then negative and counts from the 3' end, as it always has
        protein = translate(mutated[rf_variant + protein_start_variant * 3 :], to_stop=True)
    return HaploResult(
        cdna=mutated,
        protein=protein,
        reading_frame=rf_variant,
        protein_prefix_length=protein_start_variant,
        start_missing=start_missing,
        start_lost=start_lost,
        applied=[change],
        cdna_change_strs=[f"{change.rna_pos}:{change.ref or '-'}>{change.alt or '-'}"],
        all_protein_changes=[change_str],
        protein_changes=[change_str],
        consequences=["|".join(rf_conseq)],
        junctions=[change.junction] if change.junction is not None else [],
        proteins_by_frame=proteins,
        start_gain=check_start_gain(mutated, change.rna_pos, alt_len),
    )
