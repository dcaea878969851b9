"""Text-format writer sinks (`oxbow_spark/sources/writers.py`):
VCF / BED / FASTA / FASTQ `df.write.format(...)` round-trips."""

from __future__ import annotations

import glob

import pytest

from tests.corpus import fixtures_dir, needs_checkout

FX = fixtures_dir() + "/"


@pytest.fixture(scope="module")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_vcf_roundtrip_info_and_genotypes(gspark, tmp_path):
    """Typed INFO structs (flags, Number=. lists, 'k=' empties), FILTER
    PASS/'.' distinction, float32 values and phased/unphased GT all
    survive write → read exactly."""
    with open(FX + "sample.vcf") as f:
        hdr = "".join(ln for ln in f if ln.startswith("#"))
    df = gspark.read.format("vcf").load(FX + "sample.vcf")
    out = str(tmp_path / "vcf")
    (df.coalesce(1).write.format("vcf")
       .option("header", hdr).mode("overwrite").save(out))
    part = glob.glob(out + "/*.vcf")
    assert len(part) == 1
    with open(part[0]) as f:
        assert f.readline().startswith("##")
    back = gspark.read.format("vcf").load(out + "/*.vcf")
    assert _rows(back) == _rows(df)


def test_vcf_writer_requires_header(gspark, tmp_path):
    df = gspark.read.format("vcf").load(FX + "sample.vcf").limit(1)
    with pytest.raises(Exception, match="header"):
        (df.write.format("vcf").mode("overwrite")
           .save(str(tmp_path / "nohdr")))


def test_bed_roundtrip(gspark, tmp_path):
    df = gspark.read.format("bed").option("bed_schema", "bed6").load(
        FX + "sample.bed")
    out = str(tmp_path / "bed")
    df.coalesce(1).write.format("bed").mode("overwrite").save(out)
    back = gspark.read.format("bed").option("bed_schema", "bed6").load(
        out + "/*.bed")
    assert _rows(back) == _rows(df)


def test_bed12_blocks_roundtrip(gspark, tmp_path):
    rows = [("chr1", 10, 100, "f1", 0, "+", 10, 100, [255, 0, 0], 2,
             [30, 40], [0, 50])]
    df = gspark.createDataFrame(
        rows, "chrom string, start long, end long, name string, score int, "
              "strand string, thickStart long, thickEnd long, "
              "itemRgb array<short>, blockCount long, "
              "blockSizes array<long>, blockStarts array<long>")
    out = str(tmp_path / "bed12")
    df.coalesce(1).write.format("bed").mode("overwrite").save(out)
    back = gspark.read.format("bed").option("bed_schema", "bed12").load(
        out + "/*.bed")
    assert _rows(back) == _rows(df)


def test_fasta_roundtrip_with_wrapping(gspark, tmp_path):
    df = gspark.read.format("fasta").load(FX + "sample.fasta")
    out = str(tmp_path / "fa")
    df.coalesce(1).write.format("fasta").mode("overwrite").save(out)
    back = gspark.read.format("fasta").load(out + "/*.fasta")
    assert _rows(back) == _rows(df)
    # long sequences wrap at 60 columns (the conventional faidx-friendly
    # layout)
    df2 = gspark.createDataFrame(
        [("long1", None, "A" * 150)],
        "name string, description string, sequence string")
    out2 = str(tmp_path / "fa2")
    df2.coalesce(1).write.format("fasta").mode("overwrite").save(out2)
    text = open(glob.glob(out2 + "/*.fasta")[0]).read().splitlines()
    assert text[0] == ">long1" and len(text[1]) == 60 and len(text[3]) == 30
    back2 = gspark.read.format("fasta").load(out2 + "/*.fasta")
    assert back2.collect()[0].sequence == "A" * 150


def test_fastq_roundtrip(gspark, tmp_path):
    df = gspark.read.format("fastq").load(FX + "sample.fastq")
    out = str(tmp_path / "fq")
    df.coalesce(1).write.format("fastq").mode("overwrite").save(out)
    back = gspark.read.format("fastq").load(out + "/*.fastq")
    assert _rows(back) == _rows(df)


def test_render_gt_inverse():
    from oxbow_spark.models.vcf_header import parse_gt
    from oxbow_spark.sources.writers import render_gt

    for s in ("0/1", "0|1", "1|0|2", "./.", ".|1", "|1", "0", "2/."):
        assert render_gt(parse_gt(s)) == s, s
    assert render_gt(None) == "."


def test_vcf_bgzf_tabix_write_and_region_query(gspark, tmp_path):
    """compression='bgzf' + index='tbi' emits a BGZF .vcf.gz part with a
    tabix sidecar built during the write; region queries on the written
    file resolve through that index."""
    import gzip as _gzip
    import os

    with open(FX + "sample.vcf") as f:
        hdr = "".join(ln for ln in f if ln.startswith("#"))
    df = (gspark.read.format("vcf").load(FX + "sample.vcf")
          .orderBy("chrom", "pos"))
    out = str(tmp_path / "vcfgz")
    (df.coalesce(1).write.format("vcf").option("header", hdr)
       .option("compression", "bgzf").option("index", "tbi")
       .mode("overwrite").save(out))
    part = glob.glob(out + "/*.vcf.gz")[0]
    assert os.path.exists(part + ".tbi")
    assert _gzip.open(part, "rt").readline().startswith("##")
    from oxbow_spark.sources.bgzf import TabixIndex

    t = TabixIndex.read(part + ".tbi")
    assert (t.col_seq, t.col_beg, t.col_end) == (1, 2, 0)
    assert set(t.names) == {r.chrom for r in df.select("chrom").collect()}
    back = gspark.read.format("vcf").load(part)
    assert _rows(back) == _rows(df)
    rows = df.collect()
    chrom = rows[0].chrom
    got = (gspark.read.format("vcf")
           .option("regions", f"{chrom}:1-2000000").load(part))
    want = [r for r in rows if r.chrom == chrom and r.pos <= 2000000]
    assert got.count() == len(want)


def test_vcf_tbi_requires_bgzf(gspark, tmp_path):
    df = gspark.read.format("vcf").load(FX + "sample.vcf").limit(1)
    with pytest.raises(Exception, match="bgzf"):
        (df.write.format("vcf").option("header", "#x")
           .option("index", "tbi").mode("overwrite")
           .save(str(tmp_path / "bad")))


def test_bed_bgzf_tabix_write_and_region_query(gspark, tmp_path):
    import os

    df = (gspark.read.format("bed").option("bed_schema", "bed6")
          .load(FX + "sample.bed").orderBy("chrom", "start"))
    out = str(tmp_path / "bedgz")
    (df.coalesce(1).write.format("bed")
       .option("compression", "bgzf").option("index", "tbi")
       .mode("overwrite").save(out))
    part = glob.glob(out + "/*.bed.gz")[0]
    assert os.path.exists(part + ".tbi")
    from oxbow_spark.sources.bgzf import TabixIndex

    t = TabixIndex.read(part + ".tbi")
    assert t.zero_based and (t.col_seq, t.col_beg, t.col_end) == (1, 2, 3)
    back = (gspark.read.format("bed").option("bed_schema", "bed6")
            .load(part))
    assert _rows(back) == _rows(df)
    rows = df.collect()
    chrom = rows[0].chrom
    got = (gspark.read.format("bed").option("bed_schema", "bed6")
           .option("regions", f"{chrom}:[0,100000)").load(part))
    want = [r for r in rows if r.chrom == chrom and r.start < 100000]
    assert got.count() == len(want)


def test_gtf_gff_roundtrip_with_attributes(gspark, tmp_path):
    for fmt, fx in (("gtf", "example.gtf"), ("gff", "example.gff")):
        df = (gspark.read.format(fmt).option("attributes", "scan")
              .load(FX + fx))
        out = str(tmp_path / fmt)
        df.coalesce(1).write.format(fmt).mode("overwrite").save(out)
        back = (gspark.read.format(fmt).option("attributes", "scan")
                .load(out + f"/*.{fmt}"))
        assert _rows(back) == _rows(df), fmt


def test_gxf_writer_without_attributes_column(gspark, tmp_path):
    df = gspark.read.format("gtf").load(FX + "example.gtf")  # standard 8
    out = str(tmp_path / "plain")
    df.coalesce(1).write.format("gtf").mode("overwrite").save(out)
    back = gspark.read.format("gtf").load(out + "/*.gtf")
    assert _rows(back) == _rows(df)


@needs_checkout
def test_bigwig_roundtrip_and_region_query(gspark, tmp_path):
    """Minimal BigWig writer: kent layout (header/summary/chrom-tree/
    bedGraph sections/R-tree), exact value round-trip through our own
    scan, and leaf-level region pruning on the written file."""
    import glob as _glob

    df = gspark.read.format("bigwig").load(FX + "sample.bw")
    out = str(tmp_path / "bw")
    df.coalesce(1).write.format("bigwig").mode("overwrite").save(out)
    part = _glob.glob(out + "/*.bw")[0]
    back = gspark.read.format("bigwig").load(part)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # synthetic across two chromosomes and many sections
    rows = [("chr1" if i % 2 == 0 else "chr2",
             (i // 2) * 100, (i // 2) * 100 + 100, float(i))
            for i in range(4000)]
    sdf = gspark.createDataFrame(
        rows, "chrom string, start long, end long, value float")
    out2 = str(tmp_path / "bw2")
    (sdf.coalesce(1).write.format("bigwig")
        .option("items_per_slot", "128").mode("overwrite").save(out2))
    part2 = _glob.glob(out2 + "/*.bw")[0]
    from oxbow_spark.sources.bbi import BbiFile

    bf = BbiFile(part2)
    assert len(bf.chroms) == 2
    assert bf.zooms  # the default reduction ladder is written too
    all_leaves = bf.rtree_leaves(bf.full_index_off)
    assert len(all_leaves) > 20  # really sectioned
    pruned = bf.rtree_leaves(
        bf.full_index_off, (bf.chrom_ids["chr1"], 0, 1000))
    assert 0 < len(pruned) < len(all_leaves)  # index prunes
    got = (gspark.read.format("bigwig")
           .option("regions", "chr1:[0,5000)").load(part2))
    want = [r for r in rows if r[0] == "chr1" and r[1] < 5000]
    assert got.count() == len(want)
    total = gspark.read.format("bigwig").load(part2)
    assert total.count() == 4000


@needs_checkout
def test_bigbed_roundtrip_rest_and_autosql_typed(gspark, tmp_path):
    import glob as _glob

    df = (gspark.read.format("bigbed").option("bed_schema", "rest")
          .load(FX + "sample.bb"))
    out = str(tmp_path / "bb")
    df.coalesce(1).write.format("bigbed").mode("overwrite").save(out)
    part = _glob.glob(out + "/*.bb")[0]
    back = (gspark.read.format("bigbed").option("bed_schema", "rest")
            .load(part))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # embed the fixture's AutoSql declaration → the written file reads
    # back fully TYPED, identical to scanning the original fixture
    from oxbow_spark.sources.bbi import BbiFile

    asql = BbiFile(FX + "sample.bb").autosql()
    assert asql
    out2 = str(tmp_path / "bb_typed")
    (df.coalesce(1).write.format("bigbed").option("autosql", asql)
       .mode("overwrite").save(out2))
    part2 = _glob.glob(out2 + "/*.bb")[0]
    typed = gspark.read.format("bigbed").load(part2)
    orig = gspark.read.format("bigbed").load(FX + "sample.bb")
    assert typed.columns == orig.columns
    assert _rows(typed) == _rows(orig)
    # region query on the written file
    chrom = df.first().chrom
    got = (gspark.read.format("bigbed").option("bed_schema", "rest")
           .option("regions", f"{chrom}:[0,10000000)").load(part))
    want = [r for r in df.collect() if r.chrom == chrom and r.start < 10000000]
    assert got.count() == len(want)


def test_bigwig_writer_zoom_levels(gspark, tmp_path):
    """zoom_reductions writes real BBI zoom levels (records + per-level
    R-tree); the written ladder reads back through the zoom scan and
    matches an independent Python reduction."""
    import collections
    import glob as _glob

    rows = [("chr1", i * 50, i * 50 + 50, float(i % 7)) for i in range(2000)]
    df = gspark.createDataFrame(
        rows, "chrom string, start long, end long, value float")
    out = str(tmp_path / "bwz")
    (df.coalesce(1).write.format("bigwig")
       .option("zoom_reductions", "1000,4000").mode("overwrite").save(out))
    part = _glob.glob(out + "/*.bw")[0]
    from oxbow_spark.sources.bbi import BbiFile

    assert [z.reduction for z in BbiFile(part).zooms] == [1000, 4000]
    assert gspark.read.format("bigwig").load(part).count() == 2000
    z0 = sorted(map(tuple, gspark.read.format("bigwig")
                    .option("zoom", "0").load(part).collect()))
    bins = collections.defaultdict(lambda: [0, None, None, 0.0, 0.0])
    for c, s, e, v in rows:
        for b in range(s // 1000, (e - 1) // 1000 + 1):
            ov = min(e, (b + 1) * 1000) - max(s, b * 1000)
            if ov <= 0:
                continue
            acc = bins[b]
            acc[0] += ov
            acc[1] = v if acc[1] is None else min(acc[1], v)
            acc[2] = v if acc[2] is None else max(acc[2], v)
            acc[3] += v * ov
            acc[4] += v * v * ov
    assert len(z0) == len(bins)
    for r in z0:
        exp = bins[r[1] // 1000]
        assert (r[3], r[4], r[5]) == (exp[0], exp[1], exp[2])
        assert abs(r[6] - exp[3]) < 1e-3 and abs(r[7] - exp[4]) < 1e-2
    # default ladder kicks in without the option
    out2 = str(tmp_path / "bwz2")
    df.coalesce(1).write.format("bigwig").mode("overwrite").save(out2)
    part2 = _glob.glob(out2 + "/*.bw")[0]
    assert BbiFile(part2).zooms  # non-empty default ladder
    # zoom_reductions="" disables zooms
    out3 = str(tmp_path / "bwz3")
    (df.coalesce(1).write.format("bigwig")
       .option("zoom_reductions", "").mode("overwrite").save(out3))
    assert BbiFile(_glob.glob(out3 + "/*.bw")[0]).zooms == []


def _bcf_header_text(path: str) -> str:
    import struct

    from oxbow_spark.sources.bcf import open_bcf

    with open_bcf(path) as r:
        r.read(5)
        (ln,) = struct.unpack("<I", r.read(4))
        return r.read(ln).split(b"\x00", 1)[0].decode()


def test_bcf_roundtrip_fixture(gspark, tmp_path):
    """BCF writer: typed INFO/FORMAT/GT binary encoding round-trips the
    real fixture (100 records) exactly through our decoder."""
    import glob as _glob

    src = FX + "sample.bcf"
    df = gspark.read.format("bcf").load(src)
    out = str(tmp_path / "bcf")
    (df.coalesce(1).write.format("bcf")
       .option("header", _bcf_header_text(src)).mode("overwrite").save(out))
    part = _glob.glob(out + "/*.bcf")[0]
    back = gspark.read.format("bcf").load(part)
    assert _rows(back) == _rows(df)


def test_bcf_roundtrip_synthetic_edges(gspark, tmp_path):
    """The edge-case corpus (missing qual/'.' FILTER/'.' ID, 15+ extended
    lengths, ragged EOV-truncated float vectors, missing GT alleles,
    phased GTs) survives write → read exactly."""
    import glob as _glob

    from tests.bcf_synth import write_bcf

    src = str(tmp_path / "synth.bcf")
    write_bcf(src, 120)
    df = gspark.read.format("bcf").load(src)
    out = str(tmp_path / "bcfw")
    (df.coalesce(1).write.format("bcf")
       .option("header", _bcf_header_text(src)).mode("overwrite").save(out))
    part = _glob.glob(out + "/*.bcf")[0]
    back = gspark.read.format("bcf").load(part)
    assert _rows(back) == _rows(df)


def test_bcf_writer_requires_contigs(gspark, tmp_path):
    df = gspark.createDataFrame(
        [("chrZ", 5, ["x"], "A", ["T"], None, [])],
        "chrom string, pos int, id array<string>, ref string, "
        "alt array<string>, qual double, filter array<string>")
    hdr = ("##fileformat=VCFv4.2\n"
           "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    with pytest.raises(Exception, match="contig"):
        (df.coalesce(1).write.format("bcf").option("header", hdr)
           .mode("overwrite").save(str(tmp_path / "x")))


def test_bcf_writer_int_widths_and_vectors(gspark, tmp_path):
    """Width selection (int8/int16/int32), negative values, long float
    vectors and per-sample integer vectors round-trip through the
    binary encoding (rows constructed directly — no source file)."""
    import glob as _glob

    hdr = "\n".join([
        "##fileformat=VCFv4.2",
        "##contig=<ID=chr1,length=1000000>",
        "##FILTER=<ID=q10,Description=\"q\">",
        "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">",
        "##INFO=<ID=NEG,Number=1,Type=Integer,Description=\"n\">",
        "##INFO=<ID=AF,Number=.,Type=Float,Description=\"a\">",
        "##INFO=<ID=BIG,Number=.,Type=Integer,Description=\"b\">",
        "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"g\">",
        "##FORMAT=<ID=AD,Number=.,Type=Integer,Description=\"ad\">",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2",
    ])
    gt = {"allele": [0, 1], "phased": [False, True]}
    rows = [
        # int8 / int16 / int32 INFO widths + negatives
        (1, "chr1", 100, ["v1"], "A", ["T"], 10.0, [],
         {"DP": 100, "NEG": -5, "AF": [0.25], "BIG": [1, 2]},
         {"GT": gt, "AD": [3, 4]}, {"GT": None, "AD": None}),
        (2, "chr1", 200, [], "C", ["G", "T"], None, None,
         {"DP": 40000, "NEG": -40000, "AF": [0.1] * 20,
          "BIG": [100000, -100000]},
         {"GT": gt, "AD": [70000, 1]}, {"GT": gt, "AD": [5]}),
        (3, "chr1", 300, [], "G", [], 0.5, ["q10"],
         {"DP": 3000000000 - 2**32, "NEG": 2000000000, "AF": None,
          "BIG": None},
         {"GT": None, "AD": [1, 2, 3]}, {"GT": gt, "AD": None}),
    ]
    df = gspark.createDataFrame(
        [r[1:] for r in rows],
        "chrom string, pos int, id array<string>, ref string, "
        "alt array<string>, qual double, filter array<string>, "
        "info struct<DP:long, NEG:long, AF:array<float>, BIG:array<long>>, "
        "s1 struct<GT:struct<allele:array<int>, phased:array<boolean>>, "
        "AD:array<long>>, "
        "s2 struct<GT:struct<allele:array<int>, phased:array<boolean>>, "
        "AD:array<long>>")
    out = str(tmp_path / "widths")
    (df.coalesce(1).write.format("bcf").option("header", hdr)
       .mode("overwrite").save(out))
    back = gspark.read.format("bcf").load(_glob.glob(out + "/*.bcf")[0])
    assert _rows(back.select(df.columns)) == _rows(df)


def test_fasta_writer_fai_sidecar(gspark, tmp_path):
    """index='fai' writes the faidx sidecar during the write; region
    slices on the written file resolve through it."""
    import glob as _glob
    import os

    rows = [("s1", None, "ACGT" * 40), ("s2", "desc here", "TTTTGGGGCCCC"),
            ("s3", None, "A" * 61)]
    df = gspark.createDataFrame(
        rows, "name string, description string, sequence string")
    out = str(tmp_path / "fa")
    (df.coalesce(1).write.format("fasta").option("index", "fai")
       .mode("overwrite").save(out))
    part = _glob.glob(out + "/*.fasta")[0]
    assert os.path.exists(part + ".fai")
    from oxbow_spark.sources.sequence import faidx_fetch, read_fai

    fai = read_fai(part + ".fai")
    assert set(fai) == {"s1", "s2", "s3"}
    assert faidx_fetch(part, fai, "s1", 0, 10) == "ACGTACGTAC"
    assert faidx_fetch(part, fai, "s2", 4, 8) == "GGGG"
    assert faidx_fetch(part, fai, "s3", 58, 61) == "AAA"  # crosses the wrap
    got = (gspark.read.format("fasta").option("regions", "s1:1-8")
           .load(part).collect())
    assert got[0].sequence == "ACGTACGT"


def test_bbi_spooled_writer_byte_identical_and_bounded(gspark, tmp_path):
    """spool=true streams sections to a task-local spool file (O(index)
    writer memory) and must emit BYTE-IDENTICAL files to the buffered
    path for input sorted by (chrom, start) — zoom ladder included. The
    spool temp must be gone afterwards."""
    import glob as _glob
    import os

    rows = [("chr1", i * 50, i * 50 + 60, float(i % 17))
            for i in range(3000)]
    rows += [("chr2", i * 75, i * 75 + 75, float(i % 5))
             for i in range(2000)]
    sdf = gspark.createDataFrame(
        rows, "chrom string, start long, end long, value float")
    a, b = str(tmp_path / "buf"), str(tmp_path / "sp")
    (sdf.coalesce(1).sortWithinPartitions("chrom", "start")
     .write.format("bigwig").mode("overwrite").save(a))
    (sdf.coalesce(1).sortWithinPartitions("chrom", "start")
     .write.format("bigwig").option("spool", "true")
     .mode("overwrite").save(b))
    fa = _glob.glob(a + "/*.bw")[0]
    fb = _glob.glob(b + "/*.bw")[0]
    assert open(fa, "rb").read() == open(fb, "rb").read()
    assert not _glob.glob(b + "/*.spool")
    assert gspark.read.format("bigwig").load(fb).count() == 5000

    # BigBed too
    brows = [("chr1", i * 10, i * 10 + 25, f"name{i}\t{i % 3}")
             for i in range(2500)]
    bdf = gspark.createDataFrame(
        brows, "chrom string, start long, end long, rest string")
    a2, b2 = str(tmp_path / "bbuf"), str(tmp_path / "bsp")
    (bdf.coalesce(1).sortWithinPartitions("chrom", "start")
     .write.format("bigbed").mode("overwrite").save(a2))
    (bdf.coalesce(1).sortWithinPartitions("chrom", "start")
     .write.format("bigbed").option("spool", "true")
     .mode("overwrite").save(b2))
    fa2 = _glob.glob(a2 + "/*.bb")[0]
    fb2 = _glob.glob(b2 + "/*.bb")[0]
    assert open(fa2, "rb").read() == open(fb2, "rb").read()
    assert os.path.getsize(fb2) > 0


def test_bbi_spooled_writer_rejects_unsorted(gspark, tmp_path):
    sdf = gspark.createDataFrame(
        [("chr1", 100, 200, 1.0), ("chr1", 0, 50, 2.0)],
        "chrom string, start long, end long, value float")
    with pytest.raises(Exception, match="sortWithinPartitions"):
        (sdf.coalesce(1).write.format("bigwig").option("spool", "true")
         .mode("overwrite").save(str(tmp_path / "x")))
    # regrouped chromosome is rejected too
    sdf2 = gspark.createDataFrame(
        [("chr1", 0, 50, 1.0), ("chr2", 0, 50, 1.0), ("chr1", 60, 90, 1.0)],
        "chrom string, start long, end long, value float")
    with pytest.raises(Exception, match="sortWithinPartitions"):
        (sdf2.coalesce(1).write.format("bigwig").option("spool", "true")
         .mode("overwrite").save(str(tmp_path / "y")))


def test_vcf_bgzf_csi_write_and_region_query(gspark, tmp_path):
    """index='csi' with csi_depth=7 indexes a long contig (positions
    beyond tabix/.tbi's 2^29-1 cap) inline; region queries on the
    written file resolve through the tabix-flavoured CSI sidecar."""
    import os

    rows = [("chrL", 590_000_000 + i * 1000, None, "A", ["T"],
             50.0, ["PASS"]) for i in range(500)]
    df = gspark.createDataFrame(
        rows, "chrom string, pos long, id string, ref string, "
              "alt array<string>, qual double, filter array<string>"
    ).orderBy("chrom", "pos")
    hdr = ("##fileformat=VCFv4.3\n##contig=<ID=chrL,length=1000000000>\n"
           "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
    out = str(tmp_path / "vcfcsi")
    (df.coalesce(1).write.format("vcf").option("header", hdr)
       .option("compression", "bgzf").option("index", "csi")
       .option("csi_depth", "7").mode("overwrite").save(out))
    part = glob.glob(out + "/*.vcf.gz")[0]
    assert os.path.exists(part + ".csi") and not os.path.exists(part + ".tbi")
    from oxbow_spark.sources.bgzf import CsiIndex

    idx = CsiIndex.read(part + ".csi")
    assert idx.depth == 7 and idx.names == ["chrL"]
    got = (gspark.read.format("vcf")
           .option("regions", "chrL:590100000-590200000").load(part))
    want = [r for r in rows if 590_100_000 <= r[1] <= 590_200_000]
    assert sorted(x.pos for x in got.collect()) == sorted(r[1] for r in want)


def test_bed_bgzf_csi_write_and_region_query(gspark, tmp_path):
    """Default-depth (5) tabix-flavoured CSI on BED: equivalent to .tbi
    for normal-sized contigs, resolved by the same reader path."""
    import os

    df = (gspark.read.format("bed").option("bed_schema", "bed6")
          .load(FX + "sample.bed").orderBy("chrom", "start"))
    out = str(tmp_path / "bedcsi")
    (df.coalesce(1).write.format("bed")
       .option("compression", "bgzf").option("index", "csi")
       .mode("overwrite").save(out))
    part = glob.glob(out + "/*.bed.gz")[0]
    assert os.path.exists(part + ".csi")
    rows = df.collect()
    chrom = rows[0].chrom
    got = (gspark.read.format("bed").option("bed_schema", "bed6")
           .option("regions", f"{chrom}:[0,100000)").load(part))
    want = [r for r in rows if r.chrom == chrom and r.start < 100000]
    assert got.count() == len(want)
    # CSI region results identical to a .tbi-indexed write of the same df
    out2 = str(tmp_path / "bedtbi")
    (df.coalesce(1).write.format("bed")
       .option("compression", "bgzf").option("index", "tbi")
       .mode("overwrite").save(out2))
    part2 = glob.glob(out2 + "/*.bed.gz")[0]
    via_tbi = (gspark.read.format("bed").option("bed_schema", "bed6")
               .option("regions", f"{chrom}:[0,100000)").load(part2))
    assert _rows(got) == _rows(via_tbi)


def test_bcf_csi_write_and_region_query(gspark, tmp_path):
    """index='csi' on the BCF writer (BCF's standard index): sidecar
    parses with our CSI reader and region pushdown on the written file
    matches the row-filter answer."""
    import glob as _glob
    import os

    src = FX + "sample.bcf"
    df = (gspark.read.format("bcf").load(src)
          .orderBy("chrom", "pos"))
    out = str(tmp_path / "bcfcsi")
    (df.coalesce(1).write.format("bcf")
       .option("header", _bcf_header_text(src))
       .option("index", "csi").mode("overwrite").save(out))
    part = _glob.glob(out + "/*.bcf")[0]
    assert os.path.exists(part + ".csi")
    from oxbow_spark.sources.bgzf import CsiIndex

    idx = CsiIndex.read(part + ".csi")
    assert idx.min_shift == 14 and idx.refs
    rows = df.collect()
    chrom = rows[0].chrom
    got = (gspark.read.format("bcf")
           .option("regions", f"{chrom}:1-2000000").load(part))
    want = [r for r in rows if r.chrom == chrom and r.pos <= 2000000]
    assert sorted(x.pos for x in got.collect()) == sorted(r.pos for r in want)


def test_bcf_csi_long_contig(gspark, tmp_path):
    """>2^29 positions: depth auto-derives from ##contig length and the
    written CSI resolves region queries out there."""
    import glob as _glob
    import os

    hdr = ("##fileformat=VCFv4.3\n"
           "##contig=<ID=chrL,length=1000000000>\n"
           "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
    rows = [("chrL", 590_000_000 + i * 1000, None, "A", ["T"], 50.0, [])
            for i in range(400)]
    df = gspark.createDataFrame(
        rows, "chrom string, pos long, id array<string>, ref string, "
              "alt array<string>, qual double, filter array<string>"
    ).orderBy("chrom", "pos")
    out = str(tmp_path / "bcflong")
    (df.coalesce(1).write.format("bcf").option("header", hdr)
       .option("index", "csi").mode("overwrite").save(out))
    part = _glob.glob(out + "/*.bcf")[0]
    assert os.path.exists(part + ".csi")
    from oxbow_spark.sources.bgzf import CsiIndex

    assert CsiIndex.read(part + ".csi").depth == 6
    got = (gspark.read.format("bcf")
           .option("regions", "chrL:590100000-590200000").load(part))
    want = [r for r in rows if 590_100_000 <= r[1] <= 590_200_000]
    assert sorted(x.pos for x in got.collect()) == sorted(r[1] for r in want)


def test_gtf_gff_bgzf_tabix_and_csi(gspark, tmp_path):
    """GTF/GFF writers now carry the tabix generic preset (seq/start/end
    cols 1/4/5, 1-based): bgzf parts with .tbi or .csi sidecars,
    region queries resolved through them."""
    import os

    for fmt, fx, kind in (("gtf", "example.gtf", "tbi"),
                          ("gff", "example.gff", "csi")):
        df = (gspark.read.format(fmt).option("attributes", "scan")
              .load(FX + fx).orderBy("seqid", "start"))
        out = str(tmp_path / f"{fmt}gz")
        (df.coalesce(1).write.format(fmt)
           .option("compression", "bgzf").option("index", kind)
           .mode("overwrite").save(out))
        part = glob.glob(out + f"/*.{fmt}.gz")[0]
        assert os.path.exists(part + "." + kind)
        back = (gspark.read.format(fmt).option("attributes", "scan")
                .load(part))

        def _norm(frame):
            return sorted(
                (r.seqid, r.start, r.end, r.type,
                 tuple(sorted(r.attributes.asDict().items()))
                 if r.attributes is not None else None)
                for r in frame.collect())

        assert _norm(back) == _norm(df)
        rows = df.collect()
        chrom = rows[0].seqid
        hi = max(r.end for r in rows if r.seqid == chrom) // 2 + 1
        got = (gspark.read.format(fmt).option("attributes", "scan")
               .option("regions", f"{chrom}:1-{hi}").load(part))
        want = [r for r in rows
                if r.seqid == chrom and r.start <= hi and r.end >= 1]
        assert got.count() == len(want), (fmt, kind)


def test_fasta_bgzf_fai_gzi_write_and_region_slice(gspark, tmp_path):
    """compression='bgzf' + index='fai': the part is BGZF-compressed AND
    region-sliceable — .fai carries uncompressed offsets, .gzi the
    bgzip block map, and the reader's faidx/bgzf path resolves regions
    on the written file."""
    import os
    import random

    rng = random.Random(5)
    rows = [(f"s{i}", None, "".join(rng.choice("ACGT")
                                    for _ in range(rng.randrange(50, 400))))
            for i in range(40)]
    df = gspark.createDataFrame(
        rows, "name string, description string, sequence string")
    out = str(tmp_path / "fagz")
    (df.coalesce(1).write.format("fasta")
       .option("compression", "bgzf").option("index", "fai")
       .mode("overwrite").save(out))
    part = glob.glob(out + "/*.fasta.gz")[0]
    assert os.path.exists(part + ".fai") and os.path.exists(part + ".gzi")
    back = gspark.read.format("fasta").load(part)
    assert sorted((r.name, r.sequence) for r in back.collect()) \
        == sorted((n, s) for n, _d, s in rows)
    # region slices through .fai + .gzi
    seqs = {n: s for n, _d, s in rows}
    got = (gspark.read.format("fasta")
           .option("regions", "s7:11-40").load(part).collect())
    assert len(got) == 1 and got[0].sequence == seqs["s7"][10:40]
    # the .gzi is bgzip-layout: parses and maps block starts
    from oxbow_spark.sources.sequence import (bgzf_fetch_uncompressed,
                                              read_gzi)

    gzi = read_gzi(part + ".gzi")
    assert gzi[0] == (0, 0)
    full = "".join(f">{n}\n" + "\n".join(
        s[i:i + 60] for i in range(0, max(len(s), 1), 60)) + "\n"
        for n, _d, s in rows).encode()
    assert bgzf_fetch_uncompressed(part, gzi, 100, 300) == full[100:300]


def test_cohabiting_formats_survive_overwrite_commits(gspark, tmp_path):
    """Two formats sharing one directory through the PUBLIC writer API:
    an overwrite commit of the second format must neither delete the
    first format's part files nor evict them from the shared manifest
    (committed_parts prefers the manifest when present, so a dropped
    line silently orphans readable data). Re-overwriting one format
    reaps only its own prior parts."""
    from oxbow_spark.sources.align_write import committed_parts

    with open(FX + "sample.vcf") as f:
        hdr = "".join(ln for ln in f if ln.startswith("#"))
    vdf = gspark.read.format("vcf").load(FX + "sample.vcf")
    bdf = gspark.read.format("bed").option("bed_schema", "bed6").load(
        FX + "sample.bed")
    out = str(tmp_path / "shared")
    (vdf.coalesce(1).write.format("vcf")
        .option("header", hdr).mode("overwrite").save(out))
    bdf.coalesce(1).write.format("bed").mode("overwrite").save(out)

    vparts = committed_parts(out, ".vcf")
    bparts = committed_parts(out, ".bed")
    assert len(vparts) == 1 and len(bparts) == 1
    assert all(glob.glob(p) for p in vparts + bparts)
    back = gspark.read.format("vcf").load(out + "/*.vcf")
    assert _rows(back) == _rows(vdf)

    # overwrite the bed write: vcf stays visible AND readable, the old
    # bed part is reaped, the new one replaces it in the manifest
    old_bed = bparts[0]
    bdf.coalesce(1).write.format("bed").mode("overwrite").save(out)
    assert committed_parts(out, ".vcf") == vparts
    bparts2 = committed_parts(out, ".bed")
    assert len(bparts2) == 1 and bparts2 != [old_bed]
    assert not glob.glob(old_bed)
    back = gspark.read.format("bed").option("bed_schema", "bed6").load(
        out + "/*.bed")
    assert _rows(back) == _rows(bdf)
