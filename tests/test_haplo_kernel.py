"""U3 kernel unit tests: SAV / synonymous / stop_gained / frameshift /
inframe indel / start-lost / liftover-drop / ref-mismatch / UTR trim,
against hand-computed proteins (reference semantics
process_haplotypes.py:109-505 and process_variants.py:113-267;
see SURVEY §5). The reference's drop paths (start lost under
skip_start_loss, REF mismatch, synonymous-only) return None."""

from prohap_spark.kernels.haplo import (
    Change,
    affected_codons,
    apply_haplotype,
    apply_variant,
    check_protein_allele,
    check_start_gain,
    reverse_complement,
    translate,
    translate_codons,
)

#       0123456789...
CDNA = "AAAATGGCTGATGAATTTGGGCCCAAATAGACGTACGTACGTACGTACGTACGTACGTA"[:60]
START = 3  # ATG at offsets 3-5 → MADEFGPK then TAG stop; protein_start 1


def test_translate():
    assert translate("ATGGCTGATGAATTTGGGCCCAAATAG") == "MADEFGPK"
    assert translate("ATGTAA") == "M"
    assert translate("ATGTAA", to_stop=False) == "M*"


def test_reverse_complement():
    assert reverse_complement("ATGC") == "GCAT"
    assert reverse_complement("AAaTt") == "aAtTT"


def test_empty_changes_dropped():
    # reference skips REF rows / empty change sets
    assert apply_haplotype(CDNA, [], START) is None


def test_sav():
    # offset 9 G>A: codon GAT→AAT, D>N at protein loc 2 (0-based, CDS)
    res = apply_haplotype(CDNA, [Change(9, "G", "A")], START)
    assert res.protein == "MANEFGPK"
    assert res.consequences == ["SAV"]
    assert res.protein_changes == ["2:D>2:N"]
    assert res.all_protein_changes == ["2:D>2:N"]
    assert res.reading_frame == 0 and not res.start_lost and not res.start_missing
    assert res.protein_prefix_length == 0  # UTR trimmed away


def test_synonymous_only_dropped():
    # offset 17 T>C: TTT→TTC both F — reference suppresses haplotypes
    # with no non-synonymous change left (process_haplotypes.py:393-395)
    assert apply_haplotype(CDNA, [Change(17, "T", "C")], START) is None


def test_synonymous_kept_in_all_protein_changes():
    """The contract distinction: all_protein_changes INCLUDES the
    synonymous change, protein_changes EXCLUDES it
    (process_haplotypes.py:354-356)."""
    res = apply_haplotype(CDNA, [Change(17, "T", "C"), Change(9, "G", "A")], START)
    assert res.all_protein_changes == ["2:D>2:N", "4:F>4:F"]
    assert res.protein_changes == ["2:D>2:N"]
    assert res.consequences == ["SAV", "synonymous"]
    assert res.protein == "MANEFGPK"


def test_stop_gained_utr_filtered():
    # TTT→TAA at offset 15 gains a stop; the change sits AT the new CDS
    # end, so the reference's UTR filter removes it and drops the
    # haplotype (check_protein_allele semantics)
    assert apply_haplotype(CDNA, [Change(15, "TTT", "TAA")], START) is None
    # without the UTR trim it survives with the stop_gained type
    res = apply_haplotype(CDNA, [Change(15, "TTT", "TAA")], START, ignore_utr=False)
    assert res.consequences == ["stop_gained"]
    assert res.all_protein_changes == ["4:F>4:*"]
    assert res.protein.startswith("KMADE*")  # full frame-0 translation


def test_frameshift_insertion():
    # offset 9 G→GT: codon GAT→GTA.., D>V, +1 shift downstream
    res = apply_haplotype(CDNA, [Change(9, "G", "GT")], START, ignore_utr=False)
    assert res.consequences == ["frameshift"]
    assert res.all_protein_changes == ["2:D>2:V(+fs)"]
    # new frame hits TGA right after: M A V *
    assert res.protein[1:].startswith("MAV*")


def test_frameshift_local_window_synonymous():
    """Reference quirk preserved: a frameshift whose codon window
    translates identically is classified 'synonymous' (the consequence
    chain checks window equality before indel-ness,
    process_haplotypes.py:327-339) — alone it is suppressed."""
    assert apply_haplotype(CDNA, [Change(7, "C", "CT")], START) is None


def test_inframe_deletion():
    # delete GAA at 12-14 via ref 'TGAA'→'T' at offset 11
    res = apply_haplotype(CDNA, [Change(11, "TGAA", "T")], START)
    assert res.consequences == ["inframe_indel"]
    assert res.all_protein_changes == ["2:DE>2:D"]
    assert res.protein == "MADFGPK"


def test_start_lost_skipped_by_default():
    # change overlapping the start codon → haplotype dropped
    assert apply_haplotype(CDNA, [Change(4, "T", "G")], START) is None


def test_start_lost_kept_when_not_skipping():
    res = apply_haplotype(CDNA, [Change(4, "T", "G")], START, skip_start_loss=False)
    assert res is not None and res.start_lost
    assert res.reading_frame == -1  # frame unknown after start loss
    assert len(res.proteins_by_frame) == 3
    assert all(t == "start_lost" for t in res.consequences[0].split("|"))


def test_frameshift_before_start_is_start_lost():
    """Upstream frameshift loses the start unless force_rf
    (check_start_change, coordinates_toolbox.py:128-131)."""
    assert apply_haplotype(CDNA, [Change(0, "A", "AG")], START) is None
    # force_rf: start shifts 3→4, frame recomputed to 1; the UTR change
    # itself is trimmed, so a CDS SAV carries the haplotype
    res = apply_haplotype(
        CDNA, [Change(0, "A", "AG"), Change(9, "G", "A")], START, force_rf=True
    )
    assert res is not None and not res.start_lost
    assert res.reading_frame == 1
    assert res.protein == "MANEFGPK"
    # the UTR frameshift has loc_ref < 0 → does NOT mark the SAV (fs)
    assert res.protein_changes == ["2:D>2:N"]


def test_upstream_inframe_indel_shifts_start():
    """3 nt insertion in the 5'UTR: protein unchanged; the UTR-only
    change is filtered out, so a CDS change must carry the haplotype."""
    res = apply_haplotype(
        CDNA, [Change(0, "A", "AGGG"), Change(9, "G", "A")], START
    )
    assert res.protein == "MANEFGPK"
    assert not res.start_lost
    # UTR change filtered by the trim; only the SAV remains
    assert res.cdna_change_strs == ["9:G>A"]
    assert res.protein_changes == ["2:D>2:N"]
    # alone, the UTR indel is UTR-only → dropped
    assert apply_haplotype(CDNA, [Change(0, "A", "AGGG")], START) is None


def test_ref_mismatch_drops_haplotype():
    # reference invalidates the WHOLE haplotype on a REF/cDNA mismatch
    # (process_haplotypes.py:276-281)
    assert apply_haplotype(CDNA, [Change(9, "C", "A")], START) is None
    assert (
        apply_haplotype(CDNA, [Change(9, "C", "A"), Change(10, "A", "T")], START)
        is None
    )


def test_liftover_artifact_dropped():
    # ALT already equals the reference slice → change silently removed
    res = apply_haplotype(CDNA, [Change(9, "A", "G"), Change(10, "A", "T")], START)
    assert len(res.liftover_dropped) == 1
    assert res.cdna_change_strs == ["10:A>T"]
    # alone it leaves no change → dropped
    assert apply_haplotype(CDNA, [Change(9, "A", "G")], START) is None


def test_multi_change_cumulative_offsets():
    res = apply_haplotype(
        CDNA, [Change(0, "A", "AGGG"), Change(9, "G", "A")], START
    )
    assert res.protein == "MANEFGPK"  # SAV lands on the shifted coordinate


def test_start_missing_three_frames():
    res = apply_haplotype(CDNA, [Change(9, "G", "A")], -1)
    assert res.start_missing and res.reading_frame == -1
    assert len(res.proteins_by_frame) == 3
    # full-frame translations INCLUDE stops (reference stores the raw
    # 3-frame translate, process_haplotypes.py:456-478)
    mutated = CDNA[:9] + "A" + CDNA[10:]
    assert res.proteins_by_frame[0] == translate(mutated, to_stop=False)
    assert res.proteins_by_frame[1] == translate(mutated[1:], to_stop=False)
    # frame-0 SAV, frames 1/2 synonymous in the window
    assert res.consequences == ["SAV|synonymous|synonymous"]
    assert res.all_protein_changes == ["3:D>3:N|2:L>2:L|2:*>2:*"]


def test_start_missing_kept_if_any_frame_nonsynonymous():
    # T>C at 17 is synonymous in frame 0 (TTT→TTC) but NOT in frame 1
    # (TTG→TCG, L>S) → the 3-frame path keeps it
    res = apply_haplotype(CDNA, [Change(17, "T", "C")], -1)
    assert res is not None
    types = res.consequences[0].split("|")
    assert types[0] == "synonymous" and "synonymous" not in types[1]


def test_affected_codons_known_frame():
    aas, locs = affected_codons(CDNA, 9, 1, 0, 1)
    assert aas == ["D"] and locs == [2]
    aas, locs = affected_codons(CDNA, 0, 1, 0, 1)
    assert aas == ["K"] and locs == [-1]  # 5' UTR → negative


def test_affected_codons_unknown_frame():
    aas, locs = affected_codons(CDNA, 9, 1, -1, 0)
    assert len(aas) == 3 and len(locs) == 3
    assert aas[0] == "D" and locs == [3, 2, 2]


def test_check_protein_allele():
    assert check_protein_allele("2:D>2:N", 1, 9)
    assert not check_protein_allele("-1:K>-2:RE", 2, 10)  # UTR change
    assert not check_protein_allele("4:F>4:*", 1, 5)  # at the new stop


def test_check_start_gain():
    assert check_start_gain("xxxATGyy", 3, 3) == 3
    assert check_start_gain("xxxCCCyy", 3, 3) == -1


# ---- ProVar flavor ----


def test_apply_variant_sav():
    res = apply_variant(CDNA, Change(9, "G", "A"), START)
    assert res.protein == "MANEFGPK"
    assert res.all_protein_changes == ["2:D>2:N"]
    assert res.consequences == ["SAV"]
    assert res.start_gain == -1
    assert not res.start_missing and not res.start_lost


def test_apply_variant_synonymous_kept():
    # ProVar keeps synonymous variants (no UTR/synonymous suppression)
    res = apply_variant(CDNA, Change(17, "T", "C"), START)
    assert res is not None
    assert res.consequences == ["synonymous"]


def test_apply_variant_start_lost():
    res = apply_variant(CDNA, Change(4, "T", "G"), START)
    assert res.start_lost and res.reading_frame == -1
    assert len(res.proteins_by_frame) == 3


def test_apply_variant_frameshift_suffix():
    res = apply_variant(CDNA, Change(9, "G", "GT"), START)
    assert res.all_protein_changes == ["2:D>2:V(+fs)"]
    assert res.consequences == ["frameshift"]


def test_apply_variant_start_gain():
    # insertion creating an upstream ATG at offset 12
    res = apply_variant(CDNA, Change(12, "G", "ATGC"), START)
    assert res.start_gain == 12


# ---- differential property: kernel vs a naive reference implementation

from hypothesis import given, settings, strategies as st


def naive_apply(cdna, changes):
    """Oracle: apply non-overlapping changes right-to-left (no offset
    bookkeeping needed)."""
    out = cdna
    for ch in sorted(changes, key=lambda c: -c.rna_pos):
        out = out[: ch.rna_pos] + ch.alt + out[ch.rna_pos + len(ch.ref) :]
    return out


@st.composite
def change_sets(draw):
    """1-5 non-overlapping valid changes against CDNA."""
    n = draw(st.integers(1, 5))
    taken = []
    changes = []
    for _ in range(n):
        pos = draw(st.integers(0, len(CDNA) - 4))
        ref_len = draw(st.integers(1, 3))
        if any(pos < t_end and t_start < pos + ref_len for t_start, t_end in taken):
            continue
        taken.append((pos, pos + ref_len))
        ref = CDNA[pos : pos + ref_len]
        alt = draw(st.text(alphabet="ACGT", min_size=1, max_size=4))
        if alt == ref:
            continue
        changes.append(Change(pos, ref, alt))
    return changes


@given(change_sets())
@settings(max_examples=200, deadline=None)
def test_apply_haplotype_matches_naive(changes):
    # relaxed flags keep the haplotype alive through start loss and UTR
    # so the cumulative-offset application itself is what's differenced
    res = apply_haplotype(
        CDNA, changes, START, skip_start_loss=False, ignore_utr=False
    )
    if res is None:
        return  # dropped (liftover-only / synonymous-only) — fine
    assert res.cdna == naive_apply(CDNA, res.applied)
    assert len(res.applied) + len(res.liftover_dropped) == len(changes)


# ---- the table-lookup translate and the one-translation-per-frame protein


@given(
    st.text(alphabet="ACGTacgtNnRX*-ßéﬀ€", max_size=40) | st.text(alphabet="ACGT", max_size=2),
    st.booleans(),
)
@settings(max_examples=500, deadline=None)
def test_translate_table_equals_codon_loop(seq, to_stop):
    assert translate(seq, to_stop) == translate_codons(seq, to_stop)


def test_translate_edge_cases():
    for seq in ("", "A", "AC", "ATGA", "ATGAC", "atgtaa", "ATGNNNTAA", "ATGTA\u00e9", "ATGﬀTAA"):
        for to_stop in (True, False):
            assert translate(seq, to_stop) == translate_codons(seq, to_stop), seq
    assert translate("ATGNNNTAAGGG", to_stop=False) == "MX*G"
    assert translate("atgtaa") == "M"


def two_translations(res):
    """What apply_variant gave when it translated the protein
    separately from the frames: the frame's cDNA from the start codon
    (a negative slice start counts from the 3' end), cut at the stop."""
    mutated, rf, p = res.cdna, res.reading_frame, res.protein_prefix_length
    if rf > -1:
        frames = [translate_codons(mutated[rf:], to_stop=False)]
        protein = translate_codons(mutated[rf + p * 3 :], to_stop=True)
    else:
        frames = [translate_codons(mutated[f:], to_stop=False) for f in range(3)]
        protein = translate_codons(mutated, to_stop=True)
    return frames, protein


def test_apply_variant_protein_equals_two_translations():
    # (cdna, change, start_rna, rf_from_stop, force_rf, reading_frame, prefix)
    cases = [
        (CDNA, Change(9, "G", "A"), START, -1, False, 0, 1),     # frame known
        (CDNA, Change(9, "G", "A"), -1, -1, False, -1, 0),       # frame unknown
        (CDNA, Change(4, "T", "G"), START, -1, False, -1, 0),    # start lost
        (CDNA, Change(9, "G", "A"), -1, 2, True, 2, 0),          # frame from the stop
        # frameshift upstream of the start under force_rf: the start
        # moves to 4 (frame 1) and the prefix is counted in the old frame
        (CDNA, Change(1, "A", "AG"), START, -1, True, 1, 1),
        # prefix 0: a 1-base deletion moves the start from 3 to 2
        (CDNA, Change(0, "A", ""), START, -1, True, 2, 0),
        # prefix -1: the start at 2 (frame 2) moves to 0
        ("CA" + CDNA[3:], Change(0, "CA", ""), 2, -1, True, 0, -1),
    ]
    for cdna, change, start_rna, rf_from_stop, force_rf, rf, prefix in cases:
        res = apply_variant(cdna, change, start_rna, rf_from_stop, force_rf)
        assert (res.reading_frame, res.protein_prefix_length) == (rf, prefix), change
        assert (res.proteins_by_frame, res.protein) == two_translations(res), change
    # without force_rf the same upstream frameshift loses the start
    res = apply_variant(CDNA, Change(1, "A", "AG"), START)
    assert res.start_lost and (res.proteins_by_frame, res.protein) == two_translations(res)


@given(
    st.integers(0, len(CDNA) - 4),
    st.integers(0, 3),
    st.text(alphabet="ACGT", max_size=4),
    st.integers(-1, 12),
    st.integers(-1, 2),
    st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_apply_variant_matches_two_translations(pos, ref_len, alt, start_rna, rf_from_stop, force_rf):
    change = Change(pos, CDNA[pos : pos + ref_len], alt)
    res = apply_variant(CDNA, change, start_rna, rf_from_stop, force_rf)
    assert (res.proteins_by_frame, res.protein) == two_translations(res)
