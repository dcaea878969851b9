"""Genomic DataSource tests against the fixture directory that
``tests/corpus.py`` resolves: the oxbow checkout's ``fixtures/`` when it
exists, else the generated FIXTURES.md corpus (read-only test inputs;
expectations follow the reference's documented scanner behavior, SURVEY
§2.1/§5). Tests that assert values of the checkout's own files carry
``needs_checkout``."""

from __future__ import annotations

import gzip
import os

import pytest

from tests.corpus import fixtures_dir, needs_checkout

FIX = fixtures_dir()


@pytest.fixture(scope="session")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


def _data_lines(path, comment=("#", "track", "browser")):
    op = gzip.open if path.endswith(".gz") else open
    with op(path, "rt") as f:
        return [
            line for line in f
            if line.strip() and not line.startswith(tuple(comment))
        ]


# ------------------------------------------------------------------- BED

@needs_checkout
def test_bed_basic(gspark):
    df = gspark.read.format("bed").option("bed_schema", "bed9").load(f"{FIX}/sample.bed")
    rows = df.collect()
    assert len(rows) == len(_data_lines(f"{FIX}/sample.bed"))
    r0 = rows[0]
    assert (r0.chrom, r0.start, r0.end, r0.name) == ("chr1", 1100000, 1200000, "A1")
    assert r0.score is None and r0.strand == "."
    assert r0.itemRgb == [226, 56, 56]
    assert df.schema["start"].dataType.typeName() == "long"


def test_bed_gz_matches_plain(gspark):
    plain = gspark.read.format("bed").option("bed_schema", "bed9").load(f"{FIX}/sample.bed")
    gz = gspark.read.format("bed").option("bed_schema", "bed9").load(f"{FIX}/sample.bed.gz")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, gz.collect()))


def test_bed_coords_shift(gspark):
    b01 = gspark.read.format("bed").option("bed_schema", "bed9").load(f"{FIX}/sample.bed")
    b11 = (
        gspark.read.format("bed").option("bed_schema", "bed9")
        .option("coords", "11").load(f"{FIX}/sample.bed")
    )
    a, b = b01.first(), b11.first()
    assert b.start == a.start + 1            # start shifts
    assert b.thickStart == a.thickStart + 1  # thickStart shifts
    assert b.end == a.end                    # end never shifts


def test_bed_projection_and_errors(gspark):
    df = (
        gspark.read.format("bed").option("bed_schema", "bed9")
        .option("fields", "chrom,start,end").load(f"{FIX}/sample.bed")
    )
    assert df.columns == ["chrom", "start", "end"]
    with pytest.raises(Exception, match="unknown field"):
        gspark.read.format("bed").option("fields", "nope").load(f"{FIX}/sample.bed").schema

    with pytest.raises(Exception, match="invalid BED schema"):
        gspark.read.format("bed").option("bed_schema", "bed2").load(f"{FIX}/sample.bed").schema


@needs_checkout
def test_bed_rest_column(gspark):
    df = gspark.read.format("bed").option("bed_schema", "bed3+").load(f"{FIX}/sample.bed")
    r0 = df.first()
    assert df.columns == ["chrom", "start", "end", "rest"]
    assert r0.rest.startswith("A1\t")


@needs_checkout
def test_bed_region_filter(gspark):
    df = (
        gspark.read.format("bed").option("bed_schema", "bed9")
        .option("regions", "chr1:[1150000,1160000)").load(f"{FIX}/sample.bed")
    )
    rows = df.collect()
    assert rows and all(r.chrom == "chr1" for r in rows)
    # overlap, not containment: the 1.1-1.2Mb interval overlaps the window
    assert any(r.start < 1150000 for r in rows)


@needs_checkout
def test_bed_partitioned_split(gspark, tmp_path):
    # newline-aligned byte splits must not drop or duplicate records
    src = open(f"{FIX}/sample.bed").read()
    big = tmp_path / "big.bed"
    big.write_text(src * 50)
    df = (
        gspark.read.format("bed").option("bed_schema", "bed9")
        .option("partition_bytes", "4096").load(str(big))
    )
    assert df.count() == 66 * 50
    assert df.rdd.getNumPartitions() > 1


def test_bed_split_boundary_at_line_start(gspark, tmp_path):
    # a line starting exactly on a partition boundary must be owned by
    # exactly one split (regression: it was silently dropped)
    line = "chr1\t1000000\t2000000\tX\n"  # fixed width
    n = 64
    f = tmp_path / "aligned.bed"
    f.write_text(line * n)
    df = (
        gspark.read.format("bed").option("bed_schema", "bed4")
        .option("partition_bytes", str(len(line) * 4)).load(str(f))
    )
    assert df.rdd.getNumPartitions() == n // 4
    assert df.count() == n


# ------------------------------------------------------------------- GXF

@needs_checkout
def test_gtf_attributes_scan(gspark):
    df = (
        gspark.read.format("gtf").option("attributes", "scan")
        .load(f"{FIX}/sample.gtf")
    )
    rows = df.collect()
    assert len(rows) == len(_data_lines(f"{FIX}/sample.gtf"))
    r0 = rows[0]
    assert r0.seqid == "chr6" and r0.type == "exon"
    assert r0.start == 17808768 and r0.end == 17808930
    assert r0.attributes.gene_name == "KIF13A"
    # repeated key 'tag' discovered as array
    assert r0.attributes.tag == ["mRNA_start_NF", "cds_start_NF"]


def test_gtf_no_attributes_by_default(gspark):
    df = gspark.read.format("gtf").load(f"{FIX}/sample.gtf")
    assert "attributes" not in df.columns
    assert df.columns == ["seqid", "source", "type", "start", "end", "score", "strand", "frame"]


@needs_checkout
def test_gff_attributes(gspark):
    df = (
        gspark.read.format("gff").option("attributes", "scan")
        .load(f"{FIX}/example.gff")
    )
    r0 = df.first()
    assert r0.attributes.ID == "mrna0001"
    assert r0.type == "mRNA" and r0.start == 1300


@needs_checkout
def test_gtf_region_and_coords(gspark):
    base = gspark.read.format("gtf").load(f"{FIX}/sample.gtf")
    shifted = gspark.read.format("gtf").option("coords", "01").load(f"{FIX}/sample.gtf")
    a, b = base.first(), shifted.first()
    assert b.start == a.start - 1 and b.end == a.end
    reg = (
        gspark.read.format("gtf")
        .option("regions", "chr6").load(f"{FIX}/sample.gtf")
    )
    assert all(r.seqid == "chr6" for r in reg.collect())
    assert reg.count() >= 2


# ------------------------------------------------------------------- SAM

@needs_checkout
def test_sam_standard_fields(gspark):
    df = gspark.read.format("sam").load(f"{FIX}/sample.sam")
    rows = {r.qname: r for r in df.collect()}
    assert len(rows) == 3
    r004 = rows["r004"]
    assert (r004.rname, r004.pos, r004.flag) == ("chr1", 16, 0)
    # end = pos + ref-consumed cigar len - 1 = 16 + (6+14+5) - 1
    assert r004.end == 40
    r001 = rows["r001"]
    assert r001.rnext == "chr2"  # '=' resolves to rname
    assert r001.tlen == -39
    r003 = rows["r003"]
    assert r003.end == 29 + 5 - 1  # hard clip consumes nothing


@needs_checkout
def test_sam_header_metadata(gspark):
    from oxbow_spark.sources.sam import SamDataSource

    src = SamDataSource({"path": f"{FIX}/sample.sam"})
    h = src.header()
    assert h.chrom_names == ["chr1", "chr2"]
    assert h.chrom_sizes == {"chr1": 45, "chr2": 40}


@needs_checkout
def test_sam_region_query(gspark):
    df = (
        gspark.read.format("sam").option("regions", "chr1:20-30")
        .load(f"{FIX}/sample.sam")
    )
    names = {r.qname for r in df.collect()}
    # r004 spans 16-40 (overlaps), r003 spans 29-33 (overlaps), r001 is chr2
    assert names == {"r004", "r003"}


@needs_checkout
def test_sam_coords_shift(gspark):
    df = gspark.read.format("sam").option("coords", "01").load(f"{FIX}/sample.sam")
    r = {x.qname: x for x in df.collect()}
    assert r["r004"].pos == 15 and r["r004"].end == 40  # end unshifted
    assert r["r001"].pnext == 6


# ------------------------------------------------------------------- VCF

@needs_checkout
def test_vcf_schema_and_values(gspark):
    df = gspark.read.format("vcf").load(f"{FIX}/sample.vcf")
    data = _data_lines(f"{FIX}/sample.vcf", comment=("#",))
    rows = df.collect()
    assert len(rows) == len(data)
    r0 = rows[0]
    first = data[0].split("\t")
    assert r0.chrom == first[0] and r0.pos == int(first[1])
    # INFO AC is Number=A Integer → array<int>
    t = dict((f.name, f.dataType) for f in df.schema["info"].dataType.fields)
    assert t["AC"].simpleString() == "array<int>"
    assert t["AN"].simpleString() == "int"
    assert t["CompoundHet"].simpleString() == "boolean"


def test_vcf_filter_semantics(gspark):
    df = gspark.read.format("vcf").load(f"{FIX}/sample.vcf")
    vals = [r["filter"] for r in df.select("filter").collect()]
    assert [] in vals or None in vals or any(v for v in vals)
    import re
    raw = [line.split("\t")[6] for line in _data_lines(f"{FIX}/sample.vcf", ("#",))]
    expect = [[] if v == "PASS" else (None if v == "." else v.split(";")) for v in raw]
    assert vals == expect


def test_vcf_genotypes(gspark):
    df = gspark.read.format("vcf").load(f"{FIX}/sample.vcf")
    from oxbow_spark.sources.vcf import VcfDataSource

    hdr = VcfDataSource({"path": f"{FIX}/sample.vcf"}).header()
    assert hdr.samples  # sample columns exist
    s0 = hdr.samples[0]
    assert s0 in df.columns
    row = df.select(s0).first()[0]
    assert row.GT is None or isinstance(row.GT.allele, list)


def test_vcf_genotype_by_field_and_nested(gspark):
    df = (
        gspark.read.format("vcf").option("genotype_by", "field")
        .option("genotype_fields", "GT,DP").load(f"{FIX}/sample.vcf")
    )
    assert "GT" in df.columns and "DP" in df.columns
    nested = (
        gspark.read.format("vcf").option("samples_nested", "true")
        .load(f"{FIX}/sample.vcf")
    )
    assert "samples" in nested.columns


@needs_checkout
def test_vcf_info_subset_and_projection(gspark):
    df = (
        gspark.read.format("vcf").option("info_fields", "AC,AN")
        .option("fields", "chrom,pos,ref,alt")
        .option("genotype_fields", "").load(f"{FIX}/sample.vcf")
    )
    assert df.columns == ["chrom", "pos", "ref", "alt", "info"]
    assert [f.name for f in df.schema["info"].dataType.fields] == ["AC", "AN"]


def test_vcf_gz(gspark):
    plain = gspark.read.format("vcf").option("genotype_fields", "").option("info_fields", "") \
        .load(f"{FIX}/sample.vcf")
    gz = gspark.read.format("vcf").option("genotype_fields", "").option("info_fields", "") \
        .load(f"{FIX}/sample.vcf.gz")
    assert plain.count() == gz.count()


# ------------------------------------------------------------- sequences

@needs_checkout
def test_fasta_records(gspark):
    df = gspark.read.format("fasta").load(f"{FIX}/sample.fasta")
    rows = {r.name: r for r in df.collect()}
    assert "seq1" in rows
    assert rows["seq1"].sequence.startswith("ATGCATGC")


@needs_checkout
def test_fasta_region_slice(gspark):
    # one row per region; 1-based closed "seq1:2-5" → 0-based [1,5)
    df = (
        gspark.read.format("fasta").option("regions", "seq1:2-5")
        .load(f"{FIX}/sample.fasta")
    )
    rows = df.collect()
    assert len(rows) == 1
    full = gspark.read.format("fasta").load(f"{FIX}/sample.fasta")
    seq1 = {r.name: r.sequence for r in full.collect()}["seq1"]
    assert rows[0].sequence == seq1[1:5]


def test_fastq_records(gspark):
    df = gspark.read.format("fastq").load(f"{FIX}/sample.fastq")
    rows = df.collect()
    assert all(len(r.sequence) == len(r.quality) for r in rows)
    assert df.columns == ["name", "description", "sequence", "quality"]
    with pytest.raises(Exception, match="region"):
        gspark.read.format("fastq").option("regions", "x:1-2").load(f"{FIX}/sample.fastq").schema


def test_fastq_gz_matches(gspark):
    a = gspark.read.format("fastq").load(f"{FIX}/sample.fastq")
    b = gspark.read.format("fastq").load(f"{FIX}/sample.fastq.gz")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ------------------------------------------------------------- malformed

def test_malformed_errors(gspark):
    # the twins must exist: a missing path would raise too
    assert os.path.exists(f"{FIX}/malformed.gtf")
    assert os.path.exists(f"{FIX}/malformed.fastq")
    with pytest.raises(Exception):
        gspark.read.format("gtf").load(f"{FIX}/malformed.gtf").collect()
    with pytest.raises(Exception):
        gspark.read.format("fastq").load(f"{FIX}/malformed.fastq").collect()


@needs_checkout
def test_multi_region_semicolon(gspark):
    df = (
        gspark.read.format("bed").option("bed_schema", "bed9")
        .option("regions", "chr1:[1100000,1200000);chr10:[50000,250000)")
        .load(f"{FIX}/sample.bed")
    )
    assert sorted({r.chrom for r in df.collect()}) == ["chr1", "chr10"]


# ------------------------------------------------------------------ tabix

@needs_checkout
def test_tabix_region_pushdown_vcf(gspark):
    kw = dict(info_fields="", genotype_fields="")
    plain = (
        gspark.read.format("vcf").options(**kw)
        .option("regions", "1:60000-1000000").load(f"{FIX}/sample.vcf")
    )
    gz = (
        gspark.read.format("vcf").options(**kw)
        .option("regions", "1:60000-1000000").load(f"{FIX}/sample.vcf.gz")
    )
    a = sorted((r.chrom, r.pos) for r in plain.collect())
    b = sorted((r.chrom, r.pos) for r in gz.collect())
    assert a == b and a  # index-pushed scan ≡ residual-filtered full scan


@needs_checkout
def test_tabix_region_pushdown_bed(gspark):
    p = (
        gspark.read.format("bed").option("bed_schema", "bed9")
        .option("regions", "chr10:[50000,650000)").load(f"{FIX}/sample.bed")
    )
    g = (
        gspark.read.format("bed").option("bed_schema", "bed9")
        .option("regions", "chr10:[50000,650000)").load(f"{FIX}/sample.bed.gz")
    )
    assert sorted(map(tuple, p.collect())) == sorted(map(tuple, g.collect()))
    assert p.count() == 2


@needs_checkout
def test_tabix_full_scan_complete(gspark):
    kw = dict(info_fields="", genotype_fields="")
    gz = gspark.read.format("vcf").options(**kw).load(f"{FIX}/sample.vcf.gz")
    pl = gspark.read.format("vcf").options(**kw).load(f"{FIX}/sample.vcf")
    assert gz.count() == pl.count() == 25


# -------------------------------------------------------------------- BCF

@needs_checkout
def test_bcf_matches_ubcf(gspark):
    kw = dict(genotype_fields="GT", samples="HG00096,HG00101", info_fields="AC,AF,AN,DP")
    b = gspark.read.format("bcf").options(**kw).load(f"{FIX}/sample.bcf")
    u = gspark.read.format("bcf").options(**kw).load(f"{FIX}/sample.ubcf")
    rb = [tuple(map(str, r)) for r in b.collect()]
    ru = [tuple(map(str, r)) for r in u.collect()]
    assert rb == ru and len(rb) == 100


@needs_checkout
def test_bcf_values(gspark):
    kw = dict(genotype_fields="GT", samples="HG00096", info_fields="AC,AN")
    df = gspark.read.format("bcf").options(**kw).load(f"{FIX}/sample.bcf")
    r0 = df.first()
    assert r0.chrom == "Y" and r0.pos == 2761189
    assert r0.ref == "C" and r0.alt == ["CA"]
    assert r0["filter"] == [] and r0.info.AN == 1233
    assert r0.HG00096.GT.allele == [0]


@needs_checkout
def test_bcf_region(gspark):
    kw = dict(genotype_fields="", info_fields="")
    allrows = gspark.read.format("bcf").options(**kw).load(f"{FIX}/sample.bcf").collect()
    pos = sorted(r.pos for r in allrows)
    lo = pos[len(pos) // 2]
    reg = (
        gspark.read.format("bcf").options(**kw)
        .option("regions", f"Y:{lo}-{lo + 1000000}").load(f"{FIX}/sample.bcf")
    )
    manual = sum(
        1 for r in allrows
        if r.chrom == "Y" and (r.pos - 1) < lo + 1000000 and (r.pos - 1 + len(r.ref)) > lo - 1
    )
    assert reg.count() == manual > 0


@needs_checkout
def test_fields_omit_select(gspark):
    """Select::Omit parity (`oxbow/src/lib.rs:76-84`): '-'-prefixed names
    drop columns, keeping the rest in declaration order."""
    df = (
        gspark.read.format("bam")
        .option("fields", "-seq,-qual,-tlen")
        .load(f"{FIX}/sample.bam")
    )
    assert df.columns == [
        "qname", "flag", "rname", "pos", "mapq", "cigar", "rnext", "pnext", "end"
    ]
    assert df.count() == 10
    import pytest as _pytest

    with _pytest.raises(Exception, match="kept names or all"):
        gspark.read.format("bam").option("fields", "-seq,pos").load(
            f"{FIX}/sample.bam"
        ).schema
