"""S1-S10 source/sink tests over the synthetic mini-genome."""

import pytest
from pyspark.sql import functions as F

from tests.genomic_fixtures import (
    FASTA_TEXT,
    T1_CDNA,
    T2_CDNA,
    VCF_MULTI_TEXT,
    write_fixtures,
)


@pytest.fixture()
def fixture_paths(tmp_path):
    return write_fixtures(tmp_path)


def test_read_gtf_dimensions(spark, fixture_paths):
    from prohap_spark.sources.gtf import gtf_dimensions, read_gtf

    gtf, _, _ = fixture_paths
    dims = gtf_dimensions(read_gtf(spark, gtf))
    tr = {r["transcript_id"]: r.asDict() for r in dims["transcripts"].collect()}
    assert set(tr) == {"T1", "T2"}
    assert tr["T1"]["strand"] == "+" and tr["T1"]["gene_name"] == "GENE1"
    assert [(e["start"], e["end"]) for e in tr["T1"]["exons"]] == [(101, 130), (201, 230)]
    assert tr["T1"]["start_codon"] == 104
    assert tr["T2"]["start_codon"] == 328
    assert tr["T1"]["tags"] == ["MANE_Select"]
    assert tr["T1"]["biotype"] == "protein_coding"


def test_mane_selection(spark, fixture_paths):
    from prohap_spark.sources.gtf import gtf_dimensions, read_gtf, select_mane_or_canonical

    gtf, _, _ = fixture_paths
    tr = gtf_dimensions(read_gtf(spark, gtf))["transcripts"]
    kept = {r["transcript_id"] for r in select_mane_or_canonical(tr).collect()}
    # G1 has MANE_Select → T1; G2 has no MANE → canonical T2
    assert kept == {"T1", "T2"}


def _gtf_line(chrom, feature, start, end, strand, attrs):
    return "\t".join([chrom, "test", feature, str(start), str(end), ".", strand, ".", attrs])


def test_gtf_dimensions_edge_cases_one_exchange(spark, tmp_path):
    """The transcripts dimension on the annotation shapes a real GTF
    has, against the rows a left join of the transcript lines with the
    per-transcript exon array and codon minima gives: a transcript
    without exons (null exons, not an empty array), one without codons,
    a '-' strand start codon split over two exons (two start_codon rows,
    the smaller start kept), exon rows whose transcript has no
    transcript line (dropped), and exon lines out of genomic order. The
    dimension is built by one aggregation: exactly one shuffle
    Exchange."""
    import re

    from prohap_spark.plans import formatted_plan
    from prohap_spark.sources.gtf import gtf_dimensions, read_gtf

    def attrs(tid, gene="G1", name="GENE1", biotype="protein_coding", tags=()):
        out = f'gene_id "{gene}"; transcript_id "{tid}"; gene_name "{name}"; transcript_biotype "{biotype}";'
        return out + "".join(f' tag "{t}";' for t in tags)

    lines = [
        "#!genome-build test",
        _gtf_line("1", "gene", 100, 900, "+", 'gene_id "G1"; gene_name "GENE1";'),
        # full transcript, exons listed 3' first
        _gtf_line("1", "transcript", 100, 400, "+", attrs("TFULL", tags=("MANE_Select",))),
        _gtf_line("1", "exon", 300, 400, "+", attrs("TFULL") + ' exon_number "2";'),
        _gtf_line("1", "exon", 100, 200, "+", attrs("TFULL") + ' exon_number "1";'),
        _gtf_line("1", "start_codon", 110, 112, "+", attrs("TFULL")),
        _gtf_line("1", "stop_codon", 350, 352, "+", attrs("TFULL")),
        # transcript line only
        _gtf_line("1", "transcript", 500, 600, "+", attrs("TNOEXON", biotype="lncRNA")),
        # exons but no start/stop codon
        _gtf_line("2", "transcript", 10, 90, "-", attrs("TNOCODON", "G2", "GENE2")),
        _gtf_line("2", "exon", 10, 90, "-", attrs("TNOCODON", "G2", "GENE2")),
        # '-' strand start codon split over the exon junction
        _gtf_line("2", "transcript", 1000, 2000, "-", attrs("TSPLIT", "G3", "GENE3", tags=("Ensembl_canonical",))),
        _gtf_line("2", "exon", 1800, 2000, "-", attrs("TSPLIT", "G3", "GENE3")),
        _gtf_line("2", "exon", 1000, 1500, "-", attrs("TSPLIT", "G3", "GENE3")),
        _gtf_line("2", "start_codon", 1800, 1801, "-", attrs("TSPLIT", "G3", "GENE3")),
        _gtf_line("2", "start_codon", 1500, 1500, "-", attrs("TSPLIT", "G3", "GENE3")),
        _gtf_line("2", "stop_codon", 1000, 1002, "-", attrs("TSPLIT", "G3", "GENE3")),
        # exons and a codon of a transcript with no transcript line
        _gtf_line("3", "exon", 5, 50, "+", attrs("TORPHAN", "G4", "GENE4")),
        _gtf_line("3", "exon", 60, 70, "+", attrs("TORPHAN", "G4", "GENE4")),
        _gtf_line("3", "start_codon", 5, 7, "+", attrs("TORPHAN", "G4", "GENE4")),
    ]
    path = tmp_path / "edge.gtf"
    path.write_text("\n".join(lines) + "\n")

    tr = gtf_dimensions(read_gtf(spark, str(path)))["transcripts"]
    shuffles = re.findall(r"^.*[+:]- Exchange \(.*$", formatted_plan(tr), re.M)
    assert len(shuffles) == 1, "\n".join(shuffles)
    assert tr.columns == [
        "transcript_id", "gene_id", "gene_name", "chrom", "start", "end", "strand",
        "biotype", "tags", "exons", "start_codon", "stop_codon",
    ]
    got = sorted(
        (r["transcript_id"], r["gene_id"], r["gene_name"], r["chrom"], r["start"], r["end"],
         r["strand"], r["biotype"], r["tags"],
         None if r["exons"] is None else [(e["start"], e["end"]) for e in r["exons"]],
         r["start_codon"], r["stop_codon"])
        for r in tr.collect()
    )
    assert got == [
        ("TFULL", "G1", "GENE1", "1", 100, 400, "+", "protein_coding", ["MANE_Select"],
         [(100, 200), (300, 400)], 110, 350),
        ("TNOCODON", "G2", "GENE2", "2", 10, 90, "-", "protein_coding", [],
         [(10, 90)], None, None),
        ("TNOEXON", "G1", "GENE1", "1", 500, 600, "+", "lncRNA", [], None, None, None),
        ("TSPLIT", "G3", "GENE3", "2", 1000, 2000, "-", "protein_coding", ["Ensembl_canonical"],
         [(1000, 1500), (1800, 2000)], 1500, 1000),
    ]


def test_read_fasta(spark, fixture_paths):
    from prohap_spark.sources.fasta import read_fasta

    _, fasta, _ = fixture_paths
    recs = {r["accession"]: r.asDict() for r in read_fasta(spark, fasta).collect()}
    assert recs["T1.2"]["sequence"] == T1_CDNA  # multi-line joined
    assert recs["T2.1"]["sequence"] == T2_CDNA
    assert recs["T1.2"]["tag"] == "cdna"
    trunc = {r["accession"] for r in read_fasta(spark, fasta, truncate_version=True).collect()}
    assert trunc == {"T1", "T2"}


def test_fasta_round_trip(spark, fixture_paths, tmp_path):
    from prohap_spark.sources.fasta import read_fasta, write_fasta

    _, fasta, _ = fixture_paths
    df = read_fasta(spark, fasta)
    out = str(tmp_path / "out_fasta")
    write_fasta(df, out, wrap=7)
    back = {r["accession"]: r["sequence"] for r in read_fasta(spark, out).collect()}
    assert back["T1.2"] == T1_CDNA and back["T2.1"] == T2_CDNA


def test_read_vcf_and_melt(spark, fixture_paths):
    from prohap_spark.sources.vcf import melt_genotypes, read_vcf, read_vcf_header, split_multiallelic

    _, _, vcf = fixture_paths
    names = read_vcf_header(spark, vcf)
    assert names == ["S1", "S2", "S3"]
    df = split_multiallelic(read_vcf(spark, vcf))
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows["varA"]["pos"] == 110 and rows["varA"]["af"] == 0.5
    assert rows["varB"]["genotypes"] == ["1|0", "0|0", "0|1"]
    long = melt_genotypes(df, names)
    carriers = long.where((F.col("hap1") == 1) | (F.col("hap2") == 1))
    got = {(r["vcf_id"], r["sample_name"], r["hap1"], r["hap2"]) for r in carriers.collect()}
    assert got == {
        ("varB", "S1", 1, 0),
        ("varB", "S3", 0, 1),
        ("varA", "S1", 0, 1),
        ("varA", "S2", 1, 1),
        ("varD", "S1", 0, 1),
    }


def test_split_multiallelic_renumber(spark, tmp_path):
    from prohap_spark.sources.vcf import read_vcf, split_multiallelic

    p = tmp_path / "multi.vcf"
    p.write_text(VCF_MULTI_TEXT)
    out = split_multiallelic(read_vcf(spark, str(p))).orderBy("alt")
    rows = [r.asDict() for r in out.collect()]
    assert [(r["ref"], r["alt"], r["af"]) for r in rows] == [("G", "A", 0.1), ("G", "T", 0.2)]
    # allele 1 row: S1 GT 1|2 → 1|0 ; haploid '0' → 0|0
    assert rows[0]["genotypes"] == ["1|0", "0|0"]
    # allele 2 row: 1|2 → 0|1
    assert rows[1]["genotypes"] == ["0|1", "0|0"]


def test_write_vcf_round_trip(spark, fixture_paths, tmp_path):
    from prohap_spark.sources.vcf import read_vcf, read_vcf_header, write_vcf

    _, _, vcf = fixture_paths
    df = read_vcf(spark, vcf).drop("af_raw")
    out = str(tmp_path / "out_vcf")
    write_vcf(df, out, sample_names=["S1", "S2", "S3"])
    back = read_vcf(spark, out)
    assert back.count() == 3
    assert read_vcf_header(spark, out) == ["S1", "S2", "S3"]


def test_vcf_header_round_trip(spark, tmp_path):
    """S9: the '##' meta-header block survives read → write → read
    (reference copies the whole header through its filter pass,
    vcf_filter_fix.py:48-63)."""
    import glob

    from tests.genomic_fixtures import write_fixtures
    from prohap_spark.sources.vcf import (
        read_vcf,
        read_vcf_header,
        read_vcf_meta_header,
        write_vcf,
    )

    _, _, vcf = write_fixtures(tmp_path)
    meta = read_vcf_meta_header(spark, vcf)
    assert meta == ["##fileformat=VCFv4.2", "##INFO=<ID=AF,Number=A,Type=Float>"]
    names = read_vcf_header(spark, vcf)
    out = str(tmp_path / "out_vcf")
    write_vcf(read_vcf(spark, vcf).drop("af_raw"), out, names, meta_header=meta)

    part = glob.glob(f"{out}/part-*")[0]
    lines = open(part).read().splitlines()
    assert lines[0] == "##fileformat=VCFv4.2"
    assert lines[1] == "##INFO=<ID=AF,Number=A,Type=Float>"
    assert lines[2].startswith("#CHROM\tPOS") and lines[2].endswith("S1\tS2\tS3")
    # body rows round-trip
    assert read_vcf_meta_header(spark, out) == meta
    assert read_vcf(spark, out).count() == 3


def test_events_table_absorbs_ts_schema_drift(spark, tmp_path):
    """The driver's events.parquet ts encoding has drifted between
    rounds (int64 nanos -> timestamp[us] NTZ); events_table must
    normalize EVERY known encoding to a plain TIMESTAMP — this is the
    r3 regression class (unix_micros/window throw on TIMESTAMP_NTZ)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prohap_spark.queries.registry import events_table

    base = dict(
        event_id=[1, 2],
        user_id=[10, 11],
        event_type=["a", "b"],
        value=[1.0, 2.0],
        props=["{}", "{}"],
    )
    us = [1_700_000_000_000_000, 1_700_000_060_000_000]

    cases = {
        "nanos_int64": pa.array([u * 1000 for u in us], pa.int64()),
        "ts_us_ntz": pa.array(us, pa.timestamp("us")),
        "ts_us_utc": pa.array(us, pa.timestamp("us", tz="UTC")),
    }
    got = {}
    for name, ts_arr in cases.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": base["event_id"], "ts": ts_arr, **{k: v for k, v in base.items() if k != "event_id"}}),
            str(d / "events.parquet"),
        )
        df = events_table(spark, str(d))
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        # unix_micros must resolve AND yield the same instant everywhere
        from pyspark.sql import functions as F

        got[name] = sorted(
            r[0] for r in df.select(F.unix_micros("ts")).collect()
        )
    assert got["nanos_int64"] == got["ts_us_ntz"] == got["ts_us_utc"] == us


def test_fasta_roundtrip_empty_description(spark, tmp_path):
    """'>tag|acc|' (empty description — the writer's own output shape)
    must parse back as the piped format, not fall through to the bare
    'accession description' convention (regression: default split drops
    trailing empty fields)."""
    from prohap_spark.sources.fasta import read_fasta, write_fasta

    df = spark.createDataFrame(
        [("cdna", "T1", "", "ACGTACGT"), ("cdna", "T2", "desc here", "GGGTTT")],
        ["tag", "accession", "description", "sequence"],
    )
    path = str(tmp_path / "rt")
    write_fasta(df, path)
    got = {
        r["accession"]: (r["tag"], r["description"], r["sequence"])
        for r in read_fasta(spark, path).collect()
    }
    assert got == {
        "T1": ("cdna", "", "ACGTACGT"),
        "T2": ("cdna", "desc here", "GGGTTT"),
    }


def test_orc_roundtrip_nested(spark, tmp_path):
    """ORC sink -> glob re-read with an explicit schema (the second
    columnar interchange format next to parquet): nested struct +
    array survive byte-identically, schema-on-read discipline as in
    the JSONL roundtrip."""
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    staged = d.select(
        "doc_id",
        F.struct("source", "lang").alias("meta"),
        F.slice(F.split(F.trim(F.col("text")), " "), 1, 3).alias("head"),
        F.md5("text").alias("text_md5"),
    )
    want = {
        (r["doc_id"], r["meta"]["source"], r["meta"]["lang"],
         tuple(r["head"]), r["text_md5"])
        for r in staged.collect()
    }
    path = str(tmp_path / "orc")
    staged.write.option("compression", "zlib").orc(path)
    rt = spark.read.schema(
        "doc_id bigint, meta struct<source:string, lang:string>, "
        "head array<string>, text_md5 string"
    ).orc(path + "/part-*.orc")
    got = {
        (r["doc_id"], r["meta"]["source"], r["meta"]["lang"],
         tuple(r["head"]), r["text_md5"])
        for r in rt.collect()
    }
    assert got == want and len(got) > 0


def test_normalize_fasta_headers_matches_fix_headers_contract(spark, tmp_path):
    """The fix_headers equivalent (r10; fix_headers.py:50-90 is the
    contract, Snakefile rule reference_fix_headers wires it with
    -t _ensref -use_ENST 1): Ensembl-proteome-style headers normalize
    to the generic|accession|description shape with the ENST id
    replacing the ENSP accession (version-stripped), a guaranteed
    matching_proteins field, and generic-family tag coercion — then
    round-trip through write_fasta/read_fasta."""
    from prohap_spark.sources.fasta import (
        normalize_fasta_headers,
        read_fasta,
        write_fasta,
    )

    raw = str(tmp_path / "raw.fa")
    with open(raw, "w") as f:
        # Ensembl pep.all shape: unpiped header, ENST in the description
        f.write(
            ">ENSP00000488240.1 pep chromosome:GRCh38:1:100:200:1 "
            "gene:ENSG00000284662.1 transcript:ENST00000633070.1 "
            "gene_biotype:protein_coding\nMKVL\nAAXY\n"
        )
        # already-piped header WITHOUT the generic keyword
        f.write(">sp|P12345|ALBU_HUMAN Serum albumin\nMWVT\n")
        # already-generic entry with matching_proteins present: no-op
        f.write(">generic_cont|GAG|matching_proteins:GAG\nMAGA\n")

    df = read_fasta(spark, raw)
    out = {
        r["accession"]: r
        for r in normalize_fasta_headers(df, tag="_ensref", use_enst=True).collect()
    }

    ens = out["ENST00000633070"]  # ENSP accession REPLACED, version-stripped
    assert ens["tag"] == "generic_ensref"
    assert ens["description"].endswith("matching_proteins:ENST00000633070")
    assert ens["sequence"] == "MKVLAAXY"

    alb = out["P12345"]
    assert alb["tag"] == "generic_sp"  # generic_ prefix coerced on
    assert "matching_proteins:P12345" in alb["description"]

    gag = out["GAG"]
    assert gag["tag"] == "generic_cont"
    assert gag["description"] == "matching_proteins:GAG"  # untouched

    # round-trip through the sink and reader
    sink = str(tmp_path / "norm_fa")
    write_fasta(normalize_fasta_headers(df, tag="_ensref", use_enst=True), sink)
    back = {
        r["accession"]: r for r in read_fasta(spark, sink + "/part-*").collect()
    }
    assert set(back) == set(out)
    for acc, r in out.items():
        assert back[acc]["tag"] == r["tag"]
        assert back[acc]["sequence"] == r["sequence"]


def test_csv_to_vcf_shim(spark, tmp_path):
    """src/csv_to_vcf.py equivalent: arbitrary variant CSV → VCF core
    with dot-filled QUAL/FILTER/INFO, (chrom, pos)-ordered, and
    writable by write_vcf with the #CHROM header (round-tripped)."""
    from prohap_spark.sources.vcf import csv_to_vcf, read_vcf, write_vcf

    csv = str(tmp_path / "vars.csv")
    with open(csv, "w") as f:
        f.write("accession;chromosome;position;reference;alternative\n")
        f.write("rs2;2;500;G;T\n")
        f.write("rs1;1;900;A;C\n")
        f.write("rs3;1;100;AT;A\n")
    raw = spark.read.option("sep", ";").option("header", True).csv(csv)
    vcf = csv_to_vcf(
        raw,
        chrom_col="chromosome",
        pos_col="position",
        id_col="accession",
        ref_col="reference",
        alt_col="alternative",
    )
    rows = vcf.collect()
    assert [(r["chrom"], r["pos"], r["id"]) for r in rows] == [
        ("1", 100, "rs3"),
        ("1", 900, "rs1"),
        ("2", 500, "rs2"),
    ]
    assert all(r["qual"] == r["filter"] == r["info"] == "." for r in rows)

    sink = str(tmp_path / "out_vcf")
    write_vcf(vcf, sink)
    back = read_vcf(spark, sink + "/part-*")
    assert {(r["chrom"], r["pos"], r["ref"], r["alt"]) for r in back.collect()} == {
        ("1", 100, "AT", "A"),
        ("1", 900, "A", "C"),
        ("2", 500, "G", "T"),
    }
