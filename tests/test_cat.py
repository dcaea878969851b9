"""BAM part consolidation (`oxbow_spark/sources/cat.py`)."""

from __future__ import annotations

import glob
import os

import pytest

from tests.corpus import fixtures_dir

FX = fixtures_dir() + "/"


@pytest.fixture(scope="module")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


@pytest.fixture(scope="module")
def bam_header() -> str:
    from oxbow_spark.sources.bam import BamDataSource

    return "\n".join(
        BamDataSource({"path": FX + "sample.bam"}).header().lines)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _write_parts(gspark, tmp_path, bam_header, n_parts=3, with_bai=True):
    """Three coordinate-disjoint parts from a 900-record synthetic."""
    rows = []
    for i in range(900):
        pos = 100 + i * 37
        rows.append((f"r{i}", 0 if i % 5 else 4, None if i % 5 == 0 else
                     ("chr1" if i % 2 else "chr2"),
                     None if i % 5 == 0 else pos, 30, "42M", None, 0, 0,
                     "A" * 42, "I" * 42))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    parts = []
    for j in range(n_parts):
        sub = df.where(f"CAST(substring(qname, 2, 10) AS INT) % {n_parts}"
                       f" = {j}").orderBy("rname", "pos")
        out = str(tmp_path / f"part{j}")
        wr = (sub.coalesce(1).write.format("bam")
              .option("header", bam_header).mode("overwrite"))
        if with_bai:
            wr = wr.option("index", "bai")
        wr.save(out)
        parts.append(glob.glob(out + "/*.bam")[0])
    return df, parts


def test_cat_bam_raw_copy_and_bai_merge(gspark, tmp_path, bam_header):
    """Raw-copy concatenation: merged file reads back as the union;
    the merged .bai answers region queries and idxstats without any
    pass over record data."""
    from oxbow_spark.sources.bam import idxstats
    from oxbow_spark.sources.cat import cat_bam

    df, parts = _write_parts(gspark, tmp_path, bam_header)
    out = str(tmp_path / "merged.bam")
    info = cat_bam(parts, out, index="bai")
    assert info["parts"] == 3 and info["clean"]
    assert os.path.exists(out + ".bai")

    back = gspark.read.format("bam").load(out)
    want_cols = ["qname", "flag", "rname", "pos", "cigar", "seq", "qual"]
    union = gspark.read.format("bam").load(parts[0]).select(*want_cols)
    for p in parts[1:]:
        union = union.unionByName(
            gspark.read.format("bam").load(p).select(*want_cols))
    assert _rows(back.select(*want_cols)) == _rows(union)

    # merged-index region query == brute filter on the union
    got = gspark.read.format("bam").option(
        "regions", "chr1:5000-12000").load(out)
    brute = back.where("rname = 'chr1' AND pos <= 12000 "
                       "AND pos + 42 - 1 >= 5000")
    assert got.count() == brute.count() > 0

    # idxstats straight off the merged sidecar: exact totals
    st = {r[0]: (r[2], r[3]) for r in idxstats(out)}
    mapped = back.where("rname IS NOT NULL").count()
    no_coor = back.where("rname IS NULL").count()
    assert st["chr1"][0] + st["chr2"][0] == mapped
    assert st["*"][1] == no_coor


def test_cat_bam_header_mismatch_rejected(gspark, tmp_path, bam_header):
    from oxbow_spark.sources.cat import cat_bam

    df, parts = _write_parts(gspark, tmp_path, bam_header, n_parts=2,
                             with_bai=False)
    other_hdr = bam_header + "\n@SQ\tSN:extra\tLN:999"
    sub = gspark.read.format("bam").load(parts[0]).limit(3)
    out3 = str(tmp_path / "other")
    (sub.coalesce(1).write.format("bam")
        .option("header", other_hdr).mode("overwrite").save(out3))
    p3 = glob.glob(out3 + "/*.bam")[0]
    with pytest.raises(ValueError, match="header differs"):
        cat_bam([parts[0], p3], str(tmp_path / "x.bam"))


def test_cat_bam_foreign_unaligned_header_fallback(gspark, tmp_path,
                                                   bam_header):
    """A producer whose header shares a BGZF block with records: the
    boundary block's record tail is re-compressed, the rest raw-copies;
    read-back equals the union. Index merge is refused for such parts."""
    import zlib

    from oxbow_spark.sources.align_write import BGZF_EOF, bgzf_compress
    from oxbow_spark.sources.cat import cat_bam

    df, parts = _write_parts(gspark, tmp_path, bam_header, n_parts=2,
                             with_bai=False)

    def unaligned_copy(src, dst):
        with open(src, "rb") as f:
            data = f.read()
        # decompress the whole stream, re-chunk WITHOUT header alignment
        raw = bytearray()
        off = 0
        while off < len(data) - 28:
            obj = zlib.decompressobj(31)
            raw += obj.decompress(data[off:])
            off = len(data) - len(obj.unused_data)
        with open(dst, "wb") as f:
            f.write(bgzf_compress(bytes(raw)) + BGZF_EOF)

    p0u = str(tmp_path / "u0.bam")
    p1u = str(tmp_path / "u1.bam")
    unaligned_copy(parts[0], p0u)
    unaligned_copy(parts[1], p1u)
    out = str(tmp_path / "merged_u.bam")
    info = cat_bam([p0u, p1u], out)
    assert not info["clean"]
    back = gspark.read.format("bam").load(out)
    a = gspark.read.format("bam").load(parts[0]).select("qname")
    b = gspark.read.format("bam").load(parts[1]).select("qname")
    assert sorted(r.qname for r in back.collect()) \
        == sorted(r.qname for r in a.unionByName(b).collect())
    with pytest.raises(ValueError, match="header-block-aligned"):
        cat_bam([p0u, p1u], str(tmp_path / "y.bam"), index="bai")


def test_cat_bgzf_vcf_with_tbi_merge(gspark, tmp_path):
    """bgzf VCF parts concatenate by raw copy; the merged .tbi answers
    region queries on the single merged file."""
    from oxbow_spark.sources.cat import cat_bgzf_text

    with open(FX + "sample.vcf") as f:
        hdr = "".join(ln for ln in f if ln.startswith("#"))
    df = (gspark.read.format("vcf").load(FX + "sample.vcf")
          .orderBy("chrom", "pos"))
    chroms = sorted({r.chrom for r in df.select("chrom").collect()})
    parts = []
    for j, ch in enumerate(chroms):
        out = str(tmp_path / f"v{j}")
        (df.where(f"chrom = '{ch}'").coalesce(1).write.format("vcf")
           .option("header", hdr).option("compression", "bgzf")
           .option("index", "tbi").mode("overwrite").save(out))
        parts.append(glob.glob(out + "/*.vcf.gz")[0])
    assert len(parts) >= 2

    out = str(tmp_path / "merged.vcf.gz")
    info = cat_bgzf_text(parts, out, index="tbi")
    assert info["clean"] and os.path.exists(out + ".tbi")

    back = gspark.read.format("vcf").load(out)
    assert back.count() == df.count()
    assert sorted((r.chrom, r.pos) for r in back.collect()) \
        == sorted((r.chrom, r.pos) for r in df.collect())

    # per-chrom region queries through the MERGED index
    rows = df.collect()
    for ch in chroms:
        want = [r for r in rows if r.chrom == ch and r.pos <= 2_000_000_000]
        got = (gspark.read.format("vcf")
               .option("regions", f"{ch}:1-2000000000").load(out))
        assert got.count() == len(want), ch
    # and a bounded window on the first chrom
    ch = chroms[0]
    hi = max(r.pos for r in rows if r.chrom == ch) // 2
    got = (gspark.read.format("vcf")
           .option("regions", f"{ch}:1-{hi}").load(out))
    assert got.count() == sum(1 for r in rows
                              if r.chrom == ch and r.pos <= hi)


def test_cat_bgzf_headerless_fastq(gspark, tmp_path):
    """Headerless bgzf text (FASTQ: records start '@', which must NOT
    be mistaken for a header): cat keeps every record of every part."""
    from oxbow_spark.sources.cat import cat_bgzf_text

    rows = [(f"read{i}", "ACGT" * 10, "I" * 40) for i in range(300)]
    df = gspark.createDataFrame(rows, "name string, seq string, qual string")
    parts = []
    for j in range(2):
        out = str(tmp_path / f"fq{j}")
        (df.where(f"CAST(substring(name, 5, 10) AS INT) % 2 = {j}")
           .coalesce(1).write.format("fastq")
           .option("compression", "bgzf").mode("overwrite").save(out))
        parts.append(glob.glob(out + "/*.fastq.gz")[0])
    out = str(tmp_path / "merged.fastq.gz")
    info = cat_bgzf_text(parts, out)
    assert info["clean"]
    back = gspark.read.format("fastq").load(out)
    assert back.count() == 300
    assert sorted(r.name for r in back.collect()) \
        == sorted(r[0] for r in rows)


def test_cat_bcf_with_csi_merge(gspark, tmp_path):
    """BCF parts concatenate by raw copy; the merged .csi answers
    region queries on the single merged file."""
    import struct as _struct

    from oxbow_spark.sources.bcf import open_bcf
    from oxbow_spark.sources.cat import cat_bcf

    from tests.bcf_synth import write_bcf

    src = str(tmp_path / "synth.bcf")
    write_bcf(src, 200)
    with open_bcf(src) as r:
        r.read(5)
        (ln,) = _struct.unpack("<I", r.read(4))
        hdr = r.read(ln).split(b"\x00", 1)[0].decode()
    df = gspark.read.format("bcf").load(src).orderBy("chrom", "pos")
    rows = df.collect()
    chroms = sorted({r.chrom for r in rows})
    parts = []
    for j, ch in enumerate(chroms):
        out = str(tmp_path / f"b{j}")
        (df.where(f"chrom = '{ch}'").coalesce(1).write.format("bcf")
           .option("header", hdr).option("index", "csi")
           .mode("overwrite").save(out))
        parts.append(glob.glob(out + "/*.bcf")[0])
    assert len(parts) >= 2

    out = str(tmp_path / "merged.bcf")
    info = cat_bcf(parts, out, index="csi")
    assert info["clean"] and os.path.exists(out + ".csi")

    back = gspark.read.format("bcf").load(out)
    assert back.count() == len(rows)
    assert sorted((r.chrom, r.pos) for r in back.collect()) \
        == sorted((r.chrom, r.pos) for r in rows)
    for ch in chroms:
        hi = max(r.pos for r in rows if r.chrom == ch)
        got = (gspark.read.format("bcf")
               .option("regions", f"{ch}:1-{hi}").load(out))
        want = sum(1 for r in rows if r.chrom == ch and r.pos <= hi)
        assert got.count() == want > 0, ch
        mid = hi // 2
        got2 = (gspark.read.format("bcf")
                .option("regions", f"{ch}:1-{mid}").load(out))
        assert got2.count() == sum(1 for r in rows
                                   if r.chrom == ch and r.pos <= mid), ch


def test_cat_bam_csi_merge(gspark, tmp_path):
    """cat_bam with CSI sidecars (long-contig path): merged .csi
    resolves region queries."""
    from oxbow_spark.sources.cat import cat_bam

    rows = []
    for i in range(600):
        pos = 1000 + i * 911
        rows.append((f"c{i}", 0, "chrB", pos, 30, "80M", None, 0, 0,
                     "A" * 80, "I" * 80))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chrB\tLN:800000000"
    parts = []
    for j in range(2):
        out = str(tmp_path / f"cs{j}")
        (df.where(f"CAST(substring(qname, 2, 10) AS INT) % 2 = {j}")
           .orderBy("pos").coalesce(1).write.format("bam")
           .option("header", hdr).option("index", "csi")
           .mode("overwrite").save(out))
        parts.append(glob.glob(out + "/*.bam")[0])
    out = str(tmp_path / "merged_csi.bam")
    info = cat_bam(parts, out, index="csi")
    assert info["clean"] and os.path.exists(out + ".csi")
    back = gspark.read.format("bam").load(out)
    assert back.count() == 600
    got = (gspark.read.format("bam")
           .option("regions", "chrB:100000-300000").load(out))
    want = sum(1 for r in rows if r[3] <= 300000 and r[3] + 79 >= 100000)
    assert got.count() == want > 0


def test_bam_header_len_block_split_ref_entry(tmp_path):
    """A valid multi-block BAM header whose block boundary lands 0-3
    bytes before a ref entry's l_name must still parse (large @SQ
    dictionaries / foreign block layouts)."""
    import struct

    from oxbow_spark.sources.align_write import BGZF_EOF, bgzf_block
    from oxbow_spark.sources.cat import _bam_header_len

    text = b"@HD\tVN:1.6\n" + b"".join(
        b"@SQ\tSN:c%d\tLN:1000\n" % i for i in range(40))
    refs = b"".join(
        struct.pack("<i", len(b"c%d" % i) + 1) + b"c%d\x00" % i
        + struct.pack("<i", 1000) for i in range(40))
    hdr = (b"BAM\x01" + struct.pack("<i", len(text)) + text
           + struct.pack("<i", 40) + refs)
    pre = len(hdr) - len(refs)  # start of the ref table
    # boundaries: exactly at the ref table, and 0-3 bytes into an
    # entry's l_name int (the ADVICE repro: split mid-int)
    for cut in (pre, pre + 1, pre + 2, pre + 3, pre + 9, pre + 10):
        p = str(tmp_path / f"split{cut}.bam")
        with open(p, "wb") as f:
            f.write(bgzf_block(hdr[:cut]) + bgzf_block(hdr[cut:])
                    + BGZF_EOF)
        n, got = _bam_header_len(p)
        assert n == len(hdr) and got == hdr


def _mini_bai(envelope, counts, chunk):
    """One-ref BAI bytes: a single bin-0 chunk + a metadata pseudo-bin
    with the given voffset envelope and (mapped, unmapped) counts."""
    import struct

    out = [b"BAI\x01", struct.pack("<i", 1), struct.pack("<i", 2),
           struct.pack("<iI", 0, 1), struct.pack("<QQ", *chunk),
           struct.pack("<iI", 37450, 2), struct.pack("<QQ", *envelope),
           struct.pack("<QQ", *counts), struct.pack("<i", 1),
           struct.pack("<Q", chunk[0]), struct.pack("<Q", 0)]
    return b"".join(out)


def test_merge_bai_zero_envelope_not_pinned(tmp_path):
    """A first part whose metadata envelope is unset (0) must not pin
    the merged envelope begin at 0 — the first REAL voffset wins."""
    from oxbow_spark.sources.bgzf import BaiIndex
    from oxbow_spark.sources.cat import _merge_bai

    p0 = str(tmp_path / "a.bai")
    p1 = str(tmp_path / "b.bai")
    with open(p0, "wb") as f:  # unset envelope (empty-ref style part)
        f.write(_mini_bai((0, 0), (0, 0), (0, 0)))
    real = (123 << 16) | 7
    with open(p1, "wb") as f:
        f.write(_mini_bai((real, real + 100), (5, 1), (real, real + 100)))
    out = str(tmp_path / "m.bai")
    delta = 2048
    _merge_bai([p0, p1], [0, delta], out)
    idx = BaiIndex.read(out)
    (vlo, vhi), (mp, un) = idx.refs[0].bins[37450]
    shifted = ((123 + delta) << 16) | 7
    assert vlo == shifted  # not 0
    assert vhi == shifted + 100 and (mp, un) == (5, 1)


def test_csi_pseudo_bin_uses_htslib_meta_bin(gspark, tmp_path):
    """Both the CSI writer and the CSI merger emit the metadata
    pseudo-bin as htslib's META_BIN = n_bins + 1 (37450 at depth 5),
    so samtools idxstats sees the counts in merged files."""
    import gzip
    import struct

    from oxbow_spark.sources.cat import cat_bam

    rows = [(f"m{i}", 0, "chrB", 1000 + i * 500, 30, "50M", None, 0, 0,
             "A" * 50, "I" * 50) for i in range(200)]
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chrB\tLN:800000000"
    parts = []
    for j in range(2):
        out = str(tmp_path / f"mb{j}")
        (df.where(f"CAST(substring(qname, 2, 10) AS INT) % 2 = {j}")
           .orderBy("pos").coalesce(1).write.format("bam")
           .option("header", hdr).option("index", "csi")
           .mode("overwrite").save(out))
        parts.append(glob.glob(out + "/*.bam")[0])
    merged = str(tmp_path / "meta.bam")
    cat_bam(parts, merged, index="csi")

    def bin_ids(path):
        with gzip.open(path, "rb") as f:
            data = f.read()
        min_shift, depth, l_aux = struct.unpack_from("<3i", data, 4)
        off = 16 + l_aux
        (n_ref,) = struct.unpack_from("<i", data, off)
        off += 4
        ids = []
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, off)
            off += 4
            for _ in range(n_bin):
                bid, _lo, n_chunk = struct.unpack_from("<IQi", data, off)
                off += 16 + 16 * n_chunk
                ids.append(bid)
        return depth, ids

    for path in parts + [merged + ""]:
        depth, ids = bin_ids(path + ".csi")
        limit = ((1 << (3 * (depth + 1))) - 1) // 7
        pseudo = [b for b in ids if b >= limit]
        assert pseudo == [limit + 1], path


def _write_cram_parts(gspark, tmp_path, n_parts=3, per=200):
    """Coordinate-striped multi-container CRAM parts with .crai
    sidecars; both refs appear in every part."""
    rows = []
    for i in range(900):
        rows.append((f"q{i}", 0, "chr1" if i % 2 else "chr2",
                     100 + i * 31, 60, "36M", None, 0, 0,
                     "ACGT" * 9, "I" * 36))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:9000000\n@SQ\tSN:chr2\tLN:9000000"
    parts = []
    for j in range(n_parts):
        out = str(tmp_path / f"cpart{j}")
        (df.where(f"CAST(substring(qname, 2, 10) AS INT) % {n_parts} = {j}")
           .orderBy("rname", "pos").coalesce(1).write.format("cram")
           .option("header", hdr).option("index", "crai")
           .option("records_per_container", str(per))
           .mode("overwrite").save(out))
        parts.append(glob.glob(out + "/*.cram")[0])
    return df, hdr, parts


def test_cat_cram_splice_and_crai_merge(gspark, tmp_path):
    """Container-stream splice: merged CRAM reads back as the union of
    the parts; merged .crai answers region queries; container count is
    conserved (no re-containerization, raw copy)."""
    from oxbow_spark.sources.cat import cat_cram
    from oxbow_spark.sources.cram import (read_crai, read_file_header,
                                          scan_containers)

    df, hdr, parts = _write_cram_parts(gspark, tmp_path)
    out = str(tmp_path / "merged.cram")
    info = cat_cram(parts, out, index="crai")
    assert info["parts"] == 3 and info["clean"]
    assert os.path.exists(out + ".crai")

    back = gspark.read.format("cram").load(out)
    assert _rows(back.select("qname", "flag", "rname", "pos", "cigar",
                             "seq", "qual")) == \
        _rows(df.select("qname", "flag", "rname", "pos", "cigar",
                        "seq", "qual"))

    # container conservation: merged data containers == sum over parts
    def n_containers(path):
        _h, _n, first = read_file_header(path)
        return len(list(scan_containers(path, first)))
    assert n_containers(out) == sum(n_containers(p) for p in parts)

    # merged .crai: every line's container offset points at a real
    # container header (the offsets shifted consistently)
    _h, _n, first = read_file_header(out)
    offs = {o for o, *_r in scan_containers(out, first)}
    assert {e[3] for e in read_crai(out + ".crai")} <= offs

    # region query through the merged .crai == brute filter
    got = (gspark.read.format("cram")
           .option("regions", "chr1:5000-12000").load(out))
    brute = back.where("rname = 'chr1' AND pos <= 12000 "
                       "AND pos + 36 - 1 >= 5000")
    assert got.count() == brute.count() > 0


def test_cat_cram_header_mismatch_rejected(gspark, tmp_path):
    from oxbow_spark.sources.cat import cat_cram

    _df, hdr, parts = _write_cram_parts(gspark, tmp_path, n_parts=2)
    sub = gspark.read.format("cram").load(parts[0]).limit(3) \
        .drop("end", "rlen")
    out3 = str(tmp_path / "other")
    (sub.coalesce(1).write.format("cram")
        .option("header", hdr + "\n@SQ\tSN:extra\tLN:999")
        .mode("overwrite").save(out3))
    p3 = glob.glob(out3 + "/*.cram")[0]
    with pytest.raises(ValueError, match="header differs"):
        cat_cram([parts[0], p3], str(tmp_path / "x.cram"))


def test_cat_cram_3_1_and_api_facade(gspark, tmp_path):
    """cat_cram handles 3.1/rANS-coded parts identically (containers
    are opaque bytes to the splice) via the oxbow_spark.api facade."""
    import oxbow_spark.api as ox

    rows = [(f"v{i}", 0, "chrZ", 50 + i * 13, 30, "20M", None, 0, 0,
             "ACGTACGTACGTACGTACGT", "F" * 20) for i in range(300)]
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chrZ\tLN:8000000"
    parts = []
    for j in range(2):
        out = str(tmp_path / f"v{j}")
        (df.where(f"CAST(substring(qname, 2, 10) AS INT) % 2 = {j}")
           .orderBy("pos").coalesce(1).write.format("cram")
           .option("header", hdr).option("version", "3.1")
           .option("codec", "rans").mode("overwrite").save(out))
        parts.append(glob.glob(out + "/*.cram")[0])
    merged = str(tmp_path / "m31.cram")
    info = ox.cat_cram(parts, merged)
    assert info["parts"] == 2
    back = gspark.read.format("cram").load(merged)
    assert back.count() == 300
    assert _rows(back.select("qname", "pos", "seq", "qual")) == \
        _rows(df.select("qname", "pos", "seq", "qual"))


def test_cat_bam_larger_scale_roundtrip(gspark, tmp_path, bam_header):
    """Written-parts → consolidated → re-scan equality at a larger
    synthetic scale (30k records, 6 parts, multi-block bodies): exact
    record-set equality, exact idxstats totals off the merged .bai,
    region-query parity — the full delivery path, not a toy."""
    from oxbow_spark.sources.bam import idxstats
    from oxbow_spark.sources.cat import cat_bam

    n = 30000
    per = n // 6
    rows = []
    for i in range(n):
        pos = 100 + (i % per) * 11
        rows.append((f"s{i}", 0, "chr1" if i % 3 else "chr2", pos, 30,
                     "60M", None, 0, 0, "ACGTAC" * 10, "I" * 60))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    parts = []
    for j in range(6):
        out = str(tmp_path / f"big{j}")
        (df.where(f"CAST(substring(qname, 2, 10) AS INT) % 6 = {j}")
           .orderBy("rname", "pos").coalesce(1).write.format("bam")
           .option("header", bam_header).option("index", "bai")
           .mode("overwrite").save(out))
        parts.append(glob.glob(out + "/*.bam")[0])

    out = str(tmp_path / "big_merged.bam")
    info = cat_bam(parts, out, index="bai")
    assert info["parts"] == 6 and info["clean"]

    back = gspark.read.format("bam").load(out)
    cols = ["qname", "flag", "rname", "pos", "cigar", "seq"]
    assert _rows(back.select(*cols)) == _rows(df.select(*cols))

    st = {r[0]: (r[2], r[3]) for r in idxstats(out)}
    assert st["chr1"][0] == df.where("rname = 'chr1'").count()
    assert st["chr2"][0] == df.where("rname = 'chr2'").count()

    got = (gspark.read.format("bam")
           .option("regions", "chr1:20000-30000").load(out))
    brute = back.where("rname = 'chr1' AND pos <= 30000 "
                       "AND pos + 60 - 1 >= 20000")
    assert got.count() == brute.count() > 0


def test_sort_write_alignments_end_to_end(gspark, tmp_path, bam_header):
    """samtools-sort at cluster scale (sinks.sort_write_alignments):
    scrambled input → range-partitioned sorted parts → cat splice →
    ONE coordinate-sorted indexed BAM. Checks record-set equality,
    GLOBAL (tid, pos) order in file order, unmapped/foreign-contig
    records at the end, idxstats off the merged .bai, and region-query
    parity."""
    import random

    from oxbow_spark.sinks import sort_write_alignments
    from oxbow_spark.sources.bam import idxstats

    rng = random.Random(17)
    rows = []
    for i in range(12000):
        ch = ("chr1", "chr2")[i % 3 == 0]
        rows.append((f"s{i}", 0, ch, rng.randrange(100, 200000), 30,
                     "60M", None, 0, 0, "ACGTAC" * 10, "I" * 60))
    for i in range(50):   # unmapped tail: flag 4, rname '*', pos null
        rows.append((f"u{i}", 4, None, None, 0,
                     None, None, 0, 0, "ACGTAC" * 10, "I" * 60))
    rng.shuffle(rows)
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string").repartition(7)

    out_dir = str(tmp_path / "sorted_parts")
    merged = str(tmp_path / "sorted.bam")
    got_path = sort_write_alignments(
        df, out_dir, bam_header, fmt="bam", index="bai",
        partitions=5, single_file=merged)
    assert got_path == merged and os.path.exists(merged + ".bai")

    back = gspark.read.format("bam").load(merged)
    cols = ["qname", "flag", "rname", "pos"]
    assert _rows(back.select(*cols)) == _rows(df.select(*cols))

    # global order: collect in FILE order from the single part; tid
    # order comes from the header's @SQ sequence (chr2 precedes chr1
    # in the fixture header)
    from oxbow_spark.models.sam_header import SamHeader

    names = SamHeader.parse(bam_header.splitlines()).chrom_names
    order = {n: i for i, n in enumerate(names)}
    seq = [(r.rname, r.pos) for r in
           gspark.read.format("bam").load(merged).coalesce(1).collect()]
    keyed = [(order.get(c, len(names)), p if p is not None else 1 << 62)
             for c, p in seq]
    assert keyed == sorted(keyed)
    assert seq[-1][0] is None            # unmapped at the very end

    st = {r[0]: (r[2], r[3]) for r in idxstats(merged)}
    assert st["chr1"][0] == sum(1 for r in rows if r[2] == "chr1")
    assert st["*"] == (0, 50) or st["*"][1] == 50

    got = (gspark.read.format("bam")
           .option("regions", "chr1:50000-60000").load(merged))
    brute = back.where("rname = 'chr1' AND pos <= 60000 "
                       "AND pos + 60 - 1 >= 50000")
    assert got.count() == brute.count() > 0


def test_sort_write_variants_end_to_end(gspark, tmp_path):
    """bcftools-sort at cluster scale (sinks.sort_write_variants):
    scrambled VCF rows → range-sorted bgzf parts with .tbi sidecars →
    cat splice → ONE sorted indexed .vcf.gz; header ##contig order
    drives the sort, record set round-trips, file order is global."""
    import gzip as _gzip
    import random

    from oxbow_spark.sinks import sort_write_variants

    with open(FX + "sample.vcf") as f:
        hdr = "".join(ln for ln in f if ln.startswith("#"))
    base = gspark.read.format("vcf").load(FX + "sample.vcf")
    rng = random.Random(23)
    rows = base.collect()
    big = []
    for i in range(12):        # scale up + scramble positions
        for r in rows:
            d = r.asDict()
            d["pos"] = rng.randrange(1, 10_000_000)
            big.append(d)
    df = gspark.createDataFrame(big, base.schema).repartition(6)

    out_dir = str(tmp_path / "vparts")
    merged = str(tmp_path / "sorted.vcf.gz")
    got = sort_write_variants(df, out_dir, hdr, fmt="vcf", index="tbi",
                              partitions=4, single_file=merged)
    assert got == merged and os.path.exists(merged + ".tbi")

    back = gspark.read.format("vcf").load(merged)
    assert _rows(back.select("chrom", "pos", "ref")) == \
        _rows(df.select("chrom", "pos", "ref"))

    import re
    names = re.findall(r"##contig=<ID=([^,>]+)", hdr)
    order = {n: i for i, n in enumerate(names)}
    seq = []
    with _gzip.open(merged, "rt") as f:
        for ln in f:
            if ln.startswith("#"):
                continue
            c, p = ln.split("\t")[:2]
            seq.append((order.get(c, len(names)), int(p)))
    assert seq and seq == sorted(seq)

    # region query through the merged sidecar
    ch = names[0]
    got_n = (gspark.read.format("vcf")
             .option("regions", f"{ch}:1-5000000").load(merged).count())
    brute = back.where(f"chrom = '{ch}' AND pos <= 5000000").count()
    assert got_n == brute
