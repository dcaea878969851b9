"""SAM/BAM writer sinks (`oxbow_spark/sources/align_write.py`).

Beyond the reference (no writers there): `df.write.format("sam"/"bam")`
emits standard, htslib-consumable part files; round-trips through this
repo's own readers are lossless for the standard columns.
"""

from __future__ import annotations

import glob
import gzip
import os
import zlib

import pytest
from pyspark.sql import functions as F

from tests.corpus import fixtures_dir, needs_checkout

FX = fixtures_dir() + "/"


@pytest.fixture(scope="module")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


@pytest.fixture(scope="module")
def bam_header() -> str:
    from oxbow_spark.sources.bam import BamDataSource

    return "\n".join(BamDataSource({"path": FX + "sample.bam"}).header().lines)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_sam_roundtrip(gspark, tmp_path, bam_header):
    df = gspark.read.format("bam").load(FX + "sample.bam")
    out = str(tmp_path / "sam")
    (df.coalesce(1).write.format("sam")
       .option("header", bam_header).mode("overwrite").save(out))
    parts = glob.glob(out + "/*.sam")
    assert len(parts) == 1
    with open(parts[0]) as f:
        first = f.readline()
    assert first.startswith("@HD")
    back = gspark.read.format("sam").load(out + "/*.sam")
    assert _rows(back) == _rows(df)


def test_bam_roundtrip_and_standard_bgzf(gspark, tmp_path, bam_header):
    df = gspark.read.format("bam").load(FX + "sample.bam")
    out = str(tmp_path / "bam")
    (df.coalesce(1).write.format("bam")
       .option("header", bam_header).mode("overwrite").save(out))
    parts = glob.glob(out + "/*.bam")
    assert len(parts) == 1
    # the BGZF stream is plain-gzip readable (any htslib-world consumer)
    assert gzip.open(parts[0], "rb").read(4) == b"BAM\x01"
    back = gspark.read.format("bam").load(out + "/*.bam")
    assert _rows(back) == _rows(df)


@needs_checkout
def test_distributed_parts_and_overwrite(gspark, tmp_path, bam_header):
    df = gspark.read.format("bam").load(FX + "sample.bam").repartition(3)
    out = str(tmp_path / "parts")
    (df.write.format("bam").option("header", bam_header)
       .mode("overwrite").save(out))
    first = set(glob.glob(out + "/*.bam"))
    assert len(first) == 3  # one self-contained file per task
    back = gspark.read.format("bam").load(out + "/*.bam")
    assert back.count() == 10
    # overwrite replaces prior parts instead of accumulating
    (df.coalesce(1).write.format("bam").option("header", bam_header)
       .mode("overwrite").save(out))
    second = set(glob.glob(out + "/*.bam"))
    assert len(second) == 1 and not (first & second)


def test_unmapped_and_missing_values_roundtrip(gspark, tmp_path, bam_header):
    rows = [
        ("r1", 4, None, None, None, None, None, None, 0, "ACGT", None, None),
        ("r2", 0, "chr1", 5, 30, "4M", "chr1", 9, 42, "ACGT", "IIII", 8),
    ]
    cols = ("qname flag rname pos mapq cigar rnext pnext tlen seq qual end")
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos int, mapq int, "
              "cigar string, rnext string, pnext int, tlen int, seq string, "
              "qual string, end int")
    for fmt in ("sam", "bam"):
        out = str(tmp_path / f"mv_{fmt}")
        (df.coalesce(1).write.format(fmt)
           .option("header", bam_header).mode("overwrite").save(out))
        back = gspark.read.format(fmt).load(out + f"/*.{fmt}")
        assert _rows(back.select(*cols.split())) == _rows(df), fmt


def test_bam_write_requires_sq_coverage(gspark, tmp_path):
    df = gspark.read.format("bam").load(FX + "sample.bam")
    with pytest.raises(Exception, match="@SQ"):
        (df.coalesce(1).write.format("bam")
           .option("header", "@HD\tVN:1.6").mode("overwrite")
           .save(str(tmp_path / "nohdr")))


def test_bgzf_compress_blocks(tmp_path):
    from oxbow_spark.sources.align_write import BGZF_EOF, bgzf_compress
    from oxbow_spark.sources.bgzf import BgzfReader

    data = bytes(range(256)) * 1024  # spans multiple 64 KiB blocks
    path = tmp_path / "x.bgz"
    path.write_bytes(bgzf_compress(data) + BGZF_EOF)
    assert gzip.open(path, "rb").read() == data  # standard gzip stream
    with BgzfReader(str(path)) as r:             # and our BGZF reader
        assert r.read(len(data)) == data
    # EOF marker is itself a valid empty gzip member
    assert zlib.decompress(BGZF_EOF[18:], -15) == b""


def test_reg2bin_spec_levels():
    from oxbow_spark.sources.align_write import reg2bin

    assert reg2bin(0, 1) == 4681          # smallest 16 Kb bin
    assert reg2bin(0, 1 << 14) == 4681
    assert reg2bin(0, (1 << 14) + 1) == 585
    assert reg2bin(1 << 14, (1 << 14) + 1) == 4682
    assert reg2bin(0, 1 << 29) == 0       # whole-chromosome span


def test_bai_index_written_and_region_queries(gspark, tmp_path, bam_header):
    df = (gspark.read.format("bam").load(FX + "sample.bam")
          .orderBy("rname", "pos"))
    out = str(tmp_path / "indexed")
    (df.coalesce(1).write.format("bam").option("header", bam_header)
       .option("index", "bai").mode("overwrite").save(out))
    part = glob.glob(out + "/*.bam")[0]
    assert os.path.exists(part + ".bai")
    from oxbow_spark.sources.bgzf import BaiIndex

    BaiIndex.read(part + ".bai")  # well-formed per our own parser
    got = gspark.read.format("bam").option(
        "regions", "chr1:1-100000").load(part)
    want = gspark.read.format("bam").option(
        "regions", "chr1:1-100000").load(FX + "sample.bam")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bai_index_multi_window_synthetic(gspark, tmp_path):
    # spans many 16 Kb linear windows and multiple bins on two contigs
    rows = []
    for i in range(3000):
        chrom = "chr1" if i % 2 == 0 else "chr2"
        pos = 1 + (i // 2) * 137
        rows.append((f"r{i:05d}", 0, chrom, pos, 60, "100M", None, None, 0,
                     "A" * 100, "I" * 100, pos + 99))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos int, mapq int, "
              "cigar string, rnext string, pnext int, tlen int, seq string, "
              "qual string, end int").orderBy("rname", "pos")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000000\n@SQ\tSN:chr2\tLN:100000000"
    out = str(tmp_path / "multi")
    (df.coalesce(1).write.format("bam").option("header", hdr)
       .option("index", "bai").mode("overwrite").save(out))
    part = glob.glob(out + "/*.bam")[0]
    assert os.path.exists(part + ".bai")
    for region, lo, hi, chrom in (
        ("chr1:1-5000", 1, 5000, "chr1"),
        ("chr2:100000-150000", 100000, 150000, "chr2"),
        ("chr1:200000-200100", 200000, 200100, "chr1"),
    ):
        got = (gspark.read.format("bam").option("regions", region)
               .load(part).select("qname").collect())
        want = [r for r in rows
                if r[2] == chrom and r[3] <= hi and r[3] + 99 >= lo]
        assert sorted(x.qname for x in got) == sorted(r[0] for r in want), region


def test_tags_roundtrip_sam_and_bam(gspark, tmp_path, bam_header):
    df = (gspark.read.format("bam").option("tag_defs", "NM:i,MD:Z")
          .load(FX + "sample.bam"))
    assert "tags" in df.columns
    for fmt in ("sam", "bam"):
        out = str(tmp_path / f"tags_{fmt}")
        (df.coalesce(1).write.format(fmt).option("header", bam_header)
           .option("tag_defs", "NM:i,MD:Z").mode("overwrite").save(out))
        back = (gspark.read.format(fmt).option("tag_defs", "NM:i,MD:Z")
                .load(out + f"/*.{fmt}"))
        assert _rows(back) == _rows(df), fmt


@needs_checkout  # CRAM keeps no MAPQ for unmapped reads
def test_cram_roundtrip_fixtures(gspark, tmp_path, bam_header):
    """CRAM writer (no-ref profile): BAM and SAM fixtures round-trip
    exactly through our CRAM decoder — no reference FASTA needed on
    either side."""
    import glob as _glob

    df = gspark.read.format("bam").load(FX + "sample.bam")
    out = str(tmp_path / "cram")
    (df.coalesce(1).write.format("cram")
       .option("header", bam_header).mode("overwrite").save(out))
    part = _glob.glob(out + "/*.cram")[0]
    with open(part, "rb") as f:
        assert f.read(4) == b"CRAM"
    back = gspark.read.format("cram").load(part)
    assert _rows(back) == _rows(df)

    sam = gspark.read.format("sam").load(FX + "sample.sam")
    with open(FX + "sample.sam") as f:
        hdr2 = "\n".join(ln for ln in f.read().splitlines()
                         if ln.startswith("@"))
    out2 = str(tmp_path / "cram2")
    (sam.coalesce(1).write.format("cram")
       .option("header", hdr2).mode("overwrite").save(out2))
    back2 = gspark.read.format("cram").load(_glob.glob(out2 + "/*.cram")[0])
    assert _rows(back2) == _rows(sam)


def test_cram_roundtrip_edge_records(gspark, tmp_path):
    """Indels, clips, skips, pads, unmapped-with-seq, missing values and
    phred round-trips through the feature decomposition."""
    import glob as _glob

    rows = [
        ("r1", 0, "chr1", 10, 60, "5M2I3M", None, None, 0,
         "AACCGGTTAA", "IIIIIIIIII", 17),
        ("r2", 16, "chr1", 30, 20, "3S4M1D3M", "chr1", 10, -25,
         "TTTACGTAAA", None, 37),
        ("r3", 0, "chr2", 5, None, "2M300N2M2H", None, None, 0,
         "ACGT", "FFFF", 308),
        ("r4", 4, None, None, None, None, None, None, 0,
         "NNNNACGT", "BBBBBBBB", None),
        ("r5", 0, "chr2", 50, 1, "4M1P4M", None, None, 0,
         "AAAATTTT", "ABCDEFGH", 57),
    ]
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos int, mapq int, "
              "cigar string, rnext string, pnext int, tlen int, seq string, "
              "qual string, end int")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:100000"
    out = str(tmp_path / "edges")
    (df.coalesce(1).write.format("cram")
       .option("header", hdr).mode("overwrite").save(out))
    back = gspark.read.format("cram").load(_glob.glob(out + "/*.cram")[0])
    assert _rows(back) == _rows(df)


@needs_checkout
def test_cram_distributed_parts(gspark, tmp_path, bam_header):
    import glob as _glob

    df = gspark.read.format("bam").load(FX + "sample.bam").repartition(3)
    out = str(tmp_path / "parts")
    (df.write.format("cram").option("header", bam_header)
       .mode("overwrite").save(out))
    assert len(_glob.glob(out + "/*.cram")) == 3
    back = gspark.read.format("cram").load(out + "/*.cram")
    assert back.count() == 10


def test_cram_varint_encoders_roundtrip():
    """itf8/ltf8 writer encodings ≡ the reader's decoders across widths
    (incl. the 2^28+ region where ITF8's 4-bit tail and LTF8 diverge)."""
    import random

    from oxbow_spark.sources.cram import Cursor
    from oxbow_spark.sources.cram_write import itf8, ltf8

    rng = random.Random(7)
    for _ in range(5000):
        v = rng.randrange(0, 1 << 32)
        c = Cursor(itf8(v))
        got = c.itf8()
        assert (got & 0xFFFFFFFF) == v and c.p == len(c.b), v
    for k in (7, 14, 21, 28, 35, 49, 62):
        for _ in range(2000):
            v = rng.randrange(0, 1 << k)
            c = Cursor(ltf8(v))
            assert c.ltf8() == v and c.p == len(c.b), (k, v)
    for v in (0, 127, 128, 16383, 16384, (1 << 21) - 1, 1 << 21,
              (1 << 28) - 1, 1 << 28, (1 << 35) - 1, (1 << 62) - 1):
        c = Cursor(ltf8(v))
        assert c.ltf8() == v, v
    # itf8(-1) is the encoding used for "no reference" ids
    c = Cursor(itf8(-1))
    assert c.itf8() == -1


def test_cram_multi_container_output(gspark, tmp_path):
    """records_per_container bounds writer memory and yields one reader
    partition per container on re-read."""
    import glob as _glob

    rows = [(f"r{i:05d}", 0, "chr1", 1 + i * 10, 60, "20M", None, None, 0,
             "ACGTACGTACGTACGTACGT", "I" * 20, i * 10 + 20)
            for i in range(2500)]
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos int, mapq int, "
              "cigar string, rnext string, pnext int, tlen int, seq string, "
              "qual string, end int")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000000"
    out = str(tmp_path / "multi")
    (df.coalesce(1).write.format("cram").option("header", hdr)
       .option("records_per_container", "500").mode("overwrite").save(out))
    part = _glob.glob(out + "/*.cram")[0]
    from oxbow_spark.sources.cram import read_file_header, scan_containers

    _h, _n, first = read_file_header(part)
    containers = list(scan_containers(part, first))
    assert len(containers) == 5  # 2500 / 500
    back = gspark.read.format("cram").load(part)
    assert back.count() == 2500
    assert _rows(back) == _rows(df)


def test_cram_region_pruning_with_and_without_crai(gspark, tmp_path):
    """Single-ref container metadata + optional .crai sidecar: region
    queries on written CRAMs prune to the overlapping containers (1 of
    6 here) and return exact results via either planning path."""
    import glob as _glob

    rows = [(f"r{i:05d}", 0, "chr1" if i < 1500 else "chr2",
             1 + (i % 1500) * 10, 60, "20M", None, None, 0,
             "ACGTACGTACGTACGTACGT", "I" * 20, (i % 1500) * 10 + 20)
            for i in range(3000)]
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos int, mapq int, "
              "cigar string, rnext string, pnext int, tlen int, seq string, "
              "qual string, end int").orderBy("rname", "pos")
    hdr = ("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000000\n"
           "@SQ\tSN:chr2\tLN:10000000")
    out = str(tmp_path / "pruned")
    (df.coalesce(1).write.format("cram").option("header", hdr)
       .option("records_per_container", "500").option("index", "crai")
       .mode("overwrite").save(out))
    part = _glob.glob(out + "/*.cram")[0]
    assert os.path.exists(part + ".crai")
    from oxbow_spark.sources.cram import CramDataSource

    want = sorted(r[0] for r in rows
                  if r[2] == "chr1" and r[3] <= 2000 and r[3] + 19 >= 1)
    for with_crai in (True, False):
        if not with_crai:
            os.remove(part + ".crai")
        got = (gspark.read.format("cram")
               .option("regions", "chr1:1-2000").load(part)
               .select("qname").collect())
        assert sorted(r.qname for r in got) == want, with_crai
        ds = CramDataSource({"path": part, "regions": "chr1:1-2000"})
        assert len(ds.reader(ds.schema()).partitions()) == 1, with_crai
    assert gspark.read.format("cram").load(part).count() == 3000


def test_reg2bin_csi_matches_bai_instance():
    """min_shift=14/depth=5 CSI binning IS the BAI scheme."""
    import random

    from oxbow_spark.sources.align_write import reg2bin, reg2bin_csi

    rng = random.Random(7)
    for _ in range(500):
        beg = rng.randrange(0, (1 << 29) - 1)
        end = beg + rng.randrange(1, min((1 << 29) - beg, 1 << 20))
        assert reg2bin_csi(beg, end) == reg2bin(beg, end), (beg, end)
    # deeper instance: positions beyond BAI's 2^29 cap still bin
    b = reg2bin_csi(600_000_000, 600_000_100, 14, 6)
    assert b > ((1 << 15) - 1) // 7  # lands in a level-6 leaf bin
    assert reg2bin_csi(0, 1 << 32, 14, 6) == 0


def test_bai_rejects_long_contig_positions(gspark, tmp_path):
    """BAI caps positions at 2^29-1: the writer refuses instead of
    silently mis-binning (use index='csi')."""
    df = gspark.createDataFrame(
        [("r1", 0, "chr1", 600_000_000, 60, "100M", None, None, 0,
          "A" * 100, "I" * 100)],
        "qname string, flag int, rname string, pos int, mapq int, "
        "cigar string, rnext string, pnext int, tlen int, seq string, "
        "qual string")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000000000"
    with pytest.raises(Exception, match="csi"):
        (df.coalesce(1).write.format("bam").option("header", hdr)
           .option("index", "bai").mode("overwrite")
           .save(str(tmp_path / "bad")))


def test_csi_index_long_contig_bam(gspark, tmp_path):
    """index='csi' on a >2^29-bp contig: depth auto-derives from the @SQ
    length, the sidecar parses with our CSI reader, and region queries
    on the written file resolve through it — the write-path gap from
    round 5 (readers consumed CSI, writers emitted only BAI)."""
    rows = []
    for i in range(2000):
        pos = 599_000_000 + i * 137  # all beyond the BAI 2^29 cap
        rows.append((f"r{i:05d}", 0, "chr1", pos, 60, "100M", None, None,
                     0, "A" * 100, "I" * 100))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos int, mapq int, "
              "cigar string, rnext string, pnext int, tlen int, seq string, "
              "qual string").orderBy("rname", "pos")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000000000"
    out = str(tmp_path / "longcsi")
    (df.coalesce(1).write.format("bam").option("header", hdr)
       .option("index", "csi").mode("overwrite").save(out))
    part = glob.glob(out + "/*.bam")[0]
    assert os.path.exists(part + ".csi") and not os.path.exists(part + ".bai")
    from oxbow_spark.sources.bgzf import CsiIndex

    idx = CsiIndex.read(part + ".csi")
    assert idx.min_shift == 14 and idx.depth == 6  # 2^(14+18) >= 1e9
    for region, lo, hi in (
        ("chr1:599000000-599010000", 599_000_000, 599_010_000),
        ("chr1:599100000-599100500", 599_100_000, 599_100_500),
        ("chr1:1-1000", 1, 1000),
    ):
        got = (gspark.read.format("bam").option("regions", region)
               .load(part).select("qname").collect())
        want = [r for r in rows if r[3] <= hi and r[3] + 99 >= lo]
        assert sorted(x.qname for x in got) == sorted(r[0] for r in want), region


def test_csi_loffset_covers_spanning_records(gspark, tmp_path):
    """htslib loffset semantics: a long record that STARTS before a
    bin's first assigned record but overlaps the query must survive the
    loffset prune (naive min-voffset-of-assigned-records would drop it)."""
    rows = [("rlong", 0, "chr1", 1, 60, "100000M", None, None, 0,
             "A" * 10, "I" * 10)]
    for i in range(1500):
        rows.append((f"r{i:05d}", 0, "chr1", 90_000 + i * 5, 60, "100M",
                     None, None, 0, "A" * 100, "I" * 100))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos int, mapq int, "
              "cigar string, rnext string, pnext int, tlen int, seq string, "
              "qual string").orderBy("rname", "pos")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000000"
    out = str(tmp_path / "spancsi")
    (df.coalesce(1).write.format("bam").option("header", hdr)
       .option("index", "csi").mode("overwrite").save(out))
    part = glob.glob(out + "/*.bam")[0]
    got = (gspark.read.format("bam")
           .option("regions", "chr1:95000-95100").load(part)
           .select("qname").collect())
    names = sorted(x.qname for x in got)
    assert "rlong" in names  # spans the query from position 1
    want = sorted(r[0] for r in rows
                  if r[3] <= 95_100 and r[3] + (99_999 if r[0] == "rlong"
                                                else 99) >= 95_000)
    assert names == want


def test_csi_builder_pruning_superset_property():
    """Pure-index property: for random coordinate-sorted records and
    random query regions, the records inside `query_chunks`' pruned
    vpos ranges must be a SUPERSET of the records truly overlapping the
    region (binning indexes may over-read, never under-read) — across
    depths, including long spanning records."""
    import random

    from oxbow_spark.sources.align_write import _CsiBuilder
    from oxbow_spark.sources.bgzf import CsiIndex, CsiRef, query_chunks

    rng = random.Random(61)
    for depth in (5, 6):
        cap = 1 << (14 + 3 * depth)
        span_max = min(cap // 4, 1 << 22)
        recs = []
        pos = 0
        for _ in range(400):
            pos += rng.randrange(0, 1 << 16)
            ln = (rng.randrange(1, 200) if rng.random() < 0.9
                  else rng.randrange(1, span_max))
            if pos + ln >= cap:
                break
            recs.append((pos, pos + ln))
        recs.sort()
        b = _CsiBuilder(1, 14, depth)
        voffs = []
        for i, (s, e) in enumerate(recs):
            v = i * 100
            voffs.append(v)
            b.add(0, s, e, v, v + 100)
        # reconstruct an index object from the serialized bytes
        import gzip as _gz
        import io as _io
        import tempfile

        from oxbow_spark.sources.align_write import BGZF_EOF, bgzf_compress

        with tempfile.NamedTemporaryFile(suffix=".csi", delete=False) as f:
            f.write(bgzf_compress(b.serialize()) + BGZF_EOF)
            path = f.name
        idx = CsiIndex.read(path)
        assert idx.depth == depth
        hi = recs[-1][1] if recs else 1
        for _ in range(60):
            qs = rng.randrange(0, hi)
            qe = qs + rng.randrange(1, 1 << 18)
            chunks = query_chunks(idx, 0, qs, qe)
            got = {i for i, v in enumerate(voffs)
                   if any(cb <= v < ce for cb, ce in chunks)}
            want = {i for i, (s, e) in enumerate(recs)
                    if s < qe and e > qs}
            assert want <= got, (depth, qs, qe, sorted(want - got)[:5])


def test_idxstats_from_written_indexes(gspark, tmp_path):
    """samtools-idxstats parity from index metadata alone: written BAI
    and CSI both carry the pseudo-bin counts (mapped/unmapped per ref,
    no-coordinate trailer), and `idxstats` reproduces the per-contig
    truth without scanning records."""
    rows = []
    for i in range(300):
        chrom = "chr1" if i % 3 else "chr2"
        flag = 4 if i % 7 == 0 else 0      # some placed-unmapped
        rows.append((f"r{i:04d}", flag, chrom, 1 + i * 50, 60, "50M",
                     None, None, 0, "A" * 50, "I" * 50))
    for i in range(12):                     # coordinate-less records
        rows.append((f"u{i:02d}", 4, None, 0, 0, None, None, None, 0,
                     "A" * 10, "I" * 10))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos int, mapq int, "
              "cigar string, rnext string, pnext int, tlen int, seq string, "
              "qual string")
    hdr = ("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000000\n"
           "@SQ\tSN:chr2\tLN:2000000")
    from oxbow_spark.sources.bam import idxstats

    want = {}
    for _q, flag, chrom, *_ in rows:
        key = chrom or "*"
        m, u = want.get(key, (0, 0))
        want[key] = (m + (0 if flag & 4 else 1), u + (1 if flag & 4 else 0))
    for kind in ("bai", "csi"):
        out = str(tmp_path / f"ix_{kind}")
        (df.orderBy(F.col("rname").asc_nulls_last(), "pos").coalesce(1)
           .write.format("bam").option("header", hdr)
           .option("index", kind).mode("overwrite").save(out))
        part = glob.glob(out + "/*.bam")[0]
        got = idxstats(part)
        assert got[-1] == ("*", 0, 0, want["*"][1])
        by = {r[0]: r for r in got[:-1]}
        assert by["chr1"] == ("chr1", 1000000, *want["chr1"]), kind
        assert by["chr2"] == ("chr2", 2000000, *want["chr2"]), kind
        # region queries still resolve through the same index
        got_q = (gspark.read.format("bam")
                 .option("regions", "chr2:1-2000").load(part)
                 .select("qname").collect())
        exp = [r[0] for r in rows
               if r[2] == "chr2" and r[3] <= 2000 and r[3] > 0]
        assert sorted(x.qname for x in got_q) == sorted(exp), kind


@needs_checkout
def test_idxstats_real_fixture_matches_records(gspark):
    """The samtools-produced fixture .bai carries real pseudo-bins:
    idxstats from the index must equal per-contig counts from a full
    record scan."""
    from oxbow_spark.sources.bam import idxstats

    got = {r[0]: (r[2], r[3]) for r in idxstats(FX + "sample.bam")}
    recs = (gspark.read.format("bam").load(FX + "sample.bam")
            .select("rname", "flag").collect())
    want: dict[str, list[int]] = {}
    no_coor = 0
    for r in recs:
        if r.rname is None:
            no_coor += 1
            continue
        c = want.setdefault(r.rname, [0, 0])
        c[0 if not (r.flag & 4) else 1] += 1
    for nm, (m, u) in want.items():
        assert got[nm] == (m, u), nm
    assert got["*"] == (0, no_coor)
    assert sum(m for m, _u in got.values()) == sum(
        1 for r in recs if r.rname is not None and not (r.flag & 4))


def test_rans4x8_encode_roundtrip_property():
    """Writer-side rANS 4x8 order-0 vs the reader's decoder across
    distributions: constant, uniform, 4-symbol, exponential-skew,
    tiny, all-256, and block-header-method fallthrough for
    incompressible data."""
    import random

    from oxbow_spark.sources.cram import rans4x8_decode
    from oxbow_spark.sources.cram_write import _block, rans4x8_encode

    rng = random.Random(11)
    cases = [
        b"Q" * 4096,
        bytes(rng.randrange(256) for _ in range(6000)),
        bytes(rng.choice(b"ACGT") for _ in range(9000)),
        bytes(min(255, int(rng.expovariate(0.07))) for _ in range(11000)),
        b"z", b"yz", b"xyz", bytes(range(256)) * 17,
        bytes([7]) * 5000 + bytes([200]) * 2,
    ]
    for d in cases:
        assert rans4x8_decode(rans4x8_encode(d)) == d
    # skewed data picks method 4; incompressible falls back to RAW
    skew = bytes(rng.choice(b"ACGT") for _ in range(4000))
    assert _block(4, 1, skew, codec="rans")[0] == 4
    rand = bytes(rng.randrange(256) for _ in range(4000))
    assert _block(4, 1, rand, codec="rans")[0] == 0


@needs_checkout  # CRAM keeps no MAPQ for unmapped reads
def test_cram_rans_codec_roundtrip_and_size(gspark, tmp_path, bam_header):
    """codec=rans CRAM: external data series rANS-4x8-coded (block
    method 4 on the wire), exact record round-trip through the repo's
    reader, and the part is no larger than the gzip twin on the
    skewed-series fixture."""
    import glob as _glob

    from oxbow_spark.sources.cram import rans4x8_decode  # noqa: F401

    df = gspark.read.format("bam").load(FX + "sample.bam")
    out_r = str(tmp_path / "cram_rans")
    (df.coalesce(1).write.format("cram").option("codec", "rans")
       .option("header", bam_header).mode("overwrite").save(out_r))
    part_r = _glob.glob(out_r + "/*.cram")[0]
    back = gspark.read.format("cram").load(part_r)
    assert _rows(back) == _rows(df)

    out_g = str(tmp_path / "cram_gz")
    (df.coalesce(1).write.format("cram")
       .option("header", bam_header).mode("overwrite").save(out_g))
    part_g = _glob.glob(out_g + "/*.cram")[0]
    assert _rows(gspark.read.format("cram").load(part_g)) == _rows(df)

    # method-4 blocks actually on the wire in the rans part
    with open(part_r, "rb") as f:
        raw = f.read()
    assert any(raw[i] == 4 and raw[i + 1] == 4
               for i in range(len(raw) - 1)), "no rANS EXTERNAL block found"

    # realistic series (random bases, random-walk qualities): codec=rans
    # picks the best method per block, so the file never loses to the
    # gzip-only twin and wins on the entropy-coded series
    import random

    rng = random.Random(3)
    rows = []
    for i in range(3000):
        seq = "".join(rng.choice("ACGT") for _ in range(50))
        qv = [30]
        for _ in range(49):
            qv.append(max(2, min(40, qv[-1] + rng.randrange(-2, 3))))
        qual = "".join(chr(33 + v) for v in qv)
        rows.append((f"r{i}", 0, "chr1", 100 + i, 30, "50M", None, 0, 0,
                     seq, qual))
    big = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    szs = {}
    for codec, outd in (("rans", str(tmp_path / "big_r")),
                        ("gzip", str(tmp_path / "big_g"))):
        (big.coalesce(1).write.format("cram").option("codec", codec)
            .option("header", bam_header).mode("overwrite").save(outd))
        p = _glob.glob(outd + "/*.cram")[0]
        szs[codec] = os.path.getsize(p)
        got = gspark.read.format("cram").load(p)
        assert got.count() == 3000
    assert szs["rans"] <= szs["gzip"], szs


def test_rans_nx16_encode_roundtrip_property():
    """Writer-side rANS Nx16 order-0 vs the reader's decoder."""
    import random

    from oxbow_spark.sources.cram import rans_nx16_decode
    from oxbow_spark.sources.cram_write import rans_nx16_encode

    rng = random.Random(19)
    cases = [
        b"Q" * 4096,
        bytes(rng.choice(b"ACGT") for _ in range(9000)),
        bytes(rng.randrange(256) for _ in range(5000)),
        b"z", b"yz", b"xyz", bytes(range(256)) * 13,
        bytes(min(255, int(rng.expovariate(0.05))) for _ in range(11000)),
        bytes([0]) * 3000 + bytes([255]),
    ]
    for d in cases:
        assert rans_nx16_decode(rans_nx16_encode(d)) == d


def test_cram_31_write_roundtrip(gspark, tmp_path, bam_header):
    """version='3.1' + codec='rans': the file wears the 3.1 minor
    version, method-5 (rANS Nx16) blocks appear on the wire where they
    win, and records round-trip exactly; version='3.0' never emits
    method 5."""
    import glob as _glob
    import random

    rng = random.Random(5)
    rows = []
    for i in range(2000):
        seq = "".join(rng.choice("ACGT") for _ in range(60))
        rows.append((f"q{i}", 0, "chr1", 50 + i, 30, "60M", None, 0, 0,
                     seq, chr(33 + i % 40) * 60))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")

    out31 = str(tmp_path / "c31")
    (df.coalesce(1).write.format("cram").option("codec", "rans")
       .option("version", "3.1")
       .option("header", bam_header).mode("overwrite").save(out31))
    p31 = _glob.glob(out31 + "/*.cram")[0]
    with open(p31, "rb") as f:
        head = f.read(6)
    assert head == b"CRAM\x03\x01"
    back = gspark.read.format("cram").load(p31)
    assert _rows(back.select("qname", "pos", "seq", "qual")) \
        == _rows(df.select("qname", "pos", "seq", "qual"))
    with open(p31, "rb") as f:
        raw = f.read()
    assert any(raw[i] == 5 and raw[i + 1] == 4
               for i in range(len(raw) - 1)), "no Nx16 EXTERNAL block"

    out30 = str(tmp_path / "c30")
    (df.coalesce(1).write.format("cram").option("codec", "rans")
       .option("header", bam_header).mode("overwrite").save(out30))
    p30 = _glob.glob(out30 + "/*.cram")[0]
    with open(p30, "rb") as f:
        assert f.read(6) == b"CRAM\x03\x00"
    # 3.0 wire: parse every block header, no method-5 anywhere
    from oxbow_spark.sources.cram import Cursor, read_block  # noqa: F401
    assert gspark.read.format("cram").load(p30).count() == 2000


def test_cram_31_nx16_o1_pack_on_the_wire():
    """Realistic quality series: the 3.1 candidate set now includes
    Nx16 order-1 and PACK; the winner lands on the wire as method 5
    with the matching flag bits and decodes back exactly."""
    import random
    import struct as _struct

    from oxbow_spark.sources.cram import Cursor, read_block
    from oxbow_spark.sources.cram_write import (_block, rans4x8_encode_o1,
                                                rans_nx16_encode,
                                                rans_nx16_encode_o1,
                                                rans_nx16_encode_pack)

    rng = random.Random(11)
    # random-walk qualities over a 40-symbol range: context-correlated,
    # too many symbols for PACK — order-1 should beat order-0
    qv = 60
    walk = bytearray()
    for _ in range(20000):
        qv = min(93, max(0, qv + rng.choice((-2, -1, 0, 0, 1, 2))))
        walk.append(33 + qv)
    walk = bytes(walk)
    assert len(rans_nx16_encode_o1(walk)) < len(rans_nx16_encode(walk))

    # run-structured binned qualities (4 distinct values, P(repeat)=.9 —
    # the RTA3 shape): the best transformed candidate (PACK and/or
    # order-1) must beat plain order-0, and PACK must beat it too
    # (2-bit codes fold 4 correlated symbols per context byte)
    binned = bytearray([ord("F")])
    for _ in range(19999):
        binned.append(binned[-1] if rng.random() < 0.9
                      else ord(rng.choice("#,:F")))
    binned = bytes(binned)
    o0 = len(rans_nx16_encode(binned))
    assert len(rans_nx16_encode_o1(binned)) < o0
    assert len(rans_nx16_encode_pack(binned, order=1)) < o0

    # on the wire: an order-1 rANS family wins both series (4x8 o1 and
    # Nx16 o1 trade the lead by ~1% — both are valid winners), and the
    # binned series specifically selects Nx16 (method 5)
    for data, methods in ((walk, (4, 5)), (binned, (5,))):
        blk = _block(4, 12, data, codec="rans31")
        assert blk[0] in methods, blk[0]
        c = Cursor(blk)
        t, cid, raw = read_block(c)
        assert (t, cid, raw) == (4, 12, data)

    # flag bits on the winners: both series are context-correlated, so
    # the best Nx16 stream must carry the order-1 and/or PACK bits
    for series in (walk, binned):
        cands = [rans_nx16_encode(series), rans_nx16_encode_o1(series)]
        if 2 <= len(set(series)) <= 16:
            cands += [rans_nx16_encode_pack(series, 0),
                      rans_nx16_encode_pack(series, 1)]
        best = min(cands, key=len)
        assert best[0] & 0x81, "winner should be order-1 and/or PACKed"

    # 4x8 o1 remains the 3.0 fallback and still round-trips this data
    assert _struct.unpack_from("<I", rans4x8_encode_o1(walk), 5)[0] \
        == len(walk)


def _mini_fasta(tmp_path, contigs):
    """Write a FASTA + .fai (60-col lines) and return its path."""
    fa = str(tmp_path / "ref.fa")
    fai_lines = []
    off = 0
    with open(fa, "wb") as f:
        for name, seq in contigs:
            hdr = f">{name}\n".encode()
            f.write(hdr)
            off += len(hdr)
            fai_lines.append(f"{name}\t{len(seq)}\t{off}\t60\t61")
            for i in range(0, len(seq), 60):
                line = seq[i:i + 60].encode() + b"\n"
                f.write(line)
                off += len(line)
    with open(fa + ".fai", "w") as f:
        f.write("\n".join(fai_lines) + "\n")
    return fa


def test_cram_reference_based_write_roundtrip(gspark, tmp_path):
    """reference= write (RR=1 + canonical SM): matches emit no bases,
    SNPs code as X substitutions, uncodable stretches (lowercase
    soft-masked reference) fall back to 'b' — read-back WITH the same
    FASTA is exact; reading WITHOUT a reference fails (the CRAM
    contract); the base stream shrinks vs the no-ref profile."""
    import glob as _glob
    import random

    rng = random.Random(23)
    ref1 = "".join(rng.choice("ACGT") for _ in range(1200))
    # soft-masked window 400-440 (lowercase)
    ref1 = ref1[:400] + ref1[400:440].lower() + ref1[440:]
    ref2 = "".join(rng.choice("ACGT") for _ in range(500))
    fa = _mini_fasta(tmp_path, [("c1", ref1), ("c2", ref2)])

    rows = []
    for i in range(300):
        pos = 1 + (i * 7) % 1100
        seg = list(ref1[pos - 1:pos - 1 + 50].upper())
        cig = "50M"
        if i % 3 == 0 and len(seg) == 50:      # two SNPs
            seg[10] = {"A": "C", "C": "G", "G": "T", "T": "A"}[seg[10]]
            seg[33] = {"A": "G", "C": "T", "G": "A", "T": "C"}[seg[33]]
        if i % 11 == 0:                         # insertion
            seg = seg[:20] + ["A", "C"] + seg[20:48]
            cig = "20M2I28M"
        rows.append((f"r{i}", 0, "c1", pos, 40, cig, None, 0, 0,
                     "".join(seg), "I" * len(seg)))
    # deletion + N-skip + soft clip + other contig + unmapped
    rows += [
        ("d1", 0, "c1", 101, 40, "20M5D20M",
         ref1[100:120].upper() + ref1[125:145].upper(), "F" * 40),
        ("n1", 0, "c1", 201, 40, "15M100N15M",
         ref1[200:215].upper() + ref1[315:330].upper(), "F" * 30),
        ("s1", 0, "c2", 51, 40, "5S30M5S",
         "TTTTT" + ref2[50:80].upper() + "GGGGG", "F" * 40),
        ("u1", 4, None, None, None, None, "ACGTACGT", "B" * 8),
    ]
    rows = [r if len(r) == 11 else
            (r[0], r[1], r[2], r[3], r[4], r[5], None, 0, 0, r[6], r[7])
            for r in rows]
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:c1\tLN:1200\n@SQ\tSN:c2\tLN:500"

    out_ref = str(tmp_path / "wref")
    (df.coalesce(1).write.format("cram").option("header", hdr)
       .option("reference", fa).option("codec", "rans")
       .mode("overwrite").save(out_ref))
    p_ref = _glob.glob(out_ref + "/*.cram")[0]
    out_noref = str(tmp_path / "wnoref")
    (df.coalesce(1).write.format("cram").option("header", hdr)
       .option("codec", "rans").mode("overwrite").save(out_noref))
    p_noref = _glob.glob(out_noref + "/*.cram")[0]

    cols = ["qname", "flag", "rname", "pos", "cigar", "seq", "qual"]
    back = (gspark.read.format("cram").option("reference", fa)
            .load(p_ref).select(*cols))
    assert _rows(back) == _rows(df.select(*cols))

    # the no-ref twin reads without a FASTA and matches too
    back2 = gspark.read.format("cram").load(p_noref).select(*cols)
    assert _rows(back2) == _rows(df.select(*cols))

    # reference-based parts are materially smaller (matching bases gone)
    assert os.path.getsize(p_ref) < 0.8 * os.path.getsize(p_noref), (
        os.path.getsize(p_ref), os.path.getsize(p_noref))

    # RR=1 without a reference must fail, not fabricate bases
    with pytest.raises(Exception, match="reference"):
        gspark.read.format("cram").load(p_ref).collect()


def test_cram_reference_write_features_exact(gspark, tmp_path):
    """Unit-level: _features_ref emits no features for perfect matches,
    X codes for codable SNPs (canonical SM), 'b' runs for uncodable
    stretches, and the standard codes for indels/clips."""
    from oxbow_spark.sources.cram_write import _ALTS, _features_ref

    ref = "ACGTACGTACGTACGTACGT"
    assert _features_ref("20M", ref, 20, ref) == []
    # SNP at read pos 3 (0-based 2): ref G -> read T
    seq = ref[:2] + "T" + ref[3:]
    feats = _features_ref("20M", seq, 20, ref)
    assert feats == [("X", 3, _ALTS["G"].index("T"))]
    # uncodable: read 'N'? N IS in BASES so codable vs ref A
    seq2 = "N" + ref[1:]
    assert _features_ref("20M", seq2, 20, ref) == [
        ("X", 1, _ALTS["A"].index("N"))]
    # lowercase ref window -> byte mismatch, ref base not in BASES -> b
    low = ref[:5] + ref[5:10].lower() + ref[10:]
    feats3 = _features_ref("20M", ref, 20, low)
    assert feats3 == [("b", 6, ref[5:10])]
    # indels keep their codes; M segments around them still ref-match
    feats4 = _features_ref("5M2I5M3D8M", ref, 20,
                           ref[:5] + ref[7:12] + "GGG" + ref[12:])
    kinds = [f[0] for f in feats4]
    assert "I" in kinds and "D" in kinds


def test_cram_31_qs_series_fqz_candidate():
    """Under codec=rans31 the QS series competes an fqzcomp (method 7)
    candidate keyed on the two previous quals; on position-structured
    Illumina-like qualities it wins and round-trips via read_block."""
    import random

    from oxbow_spark.sources.cram import Cursor, read_block
    from oxbow_spark.sources.cram_write import _block, rans4x8_encode_o1
    from oxbow_spark.sources.cram_codecs import fqz_encode

    rng = random.Random(5)
    recs = []
    for _ in range(500):
        base = rng.choice((36, 38, 40))
        q = bytearray()
        for p in range(100):
            mu = base - (p // 25) * 2 - (3 if p > 85 else 0)
            q.append(max(2, min(41, mu + rng.choice((-2, -1, 0, 0, 0, 1)))))
        recs.append(bytes(q))
    qs = b"".join(recs)
    assert len(fqz_encode(recs, qbits=12, qshift=6)) \
        < len(rans4x8_encode_o1(qs))
    blk = _block(4, 7, qs, codec="rans31", fqz_recs=recs)
    assert blk[0] == 7, f"expected fqz (method 7), got {blk[0]}"
    t, cid, raw = read_block(Cursor(blk))
    assert (t, cid, raw) == (4, 7, qs)


def test_cram_31_full_write_with_fqz_and_tok3_roundtrip(gspark, tmp_path):
    """End-to-end 3.1 write with realistic names + qualities: the file
    carries method-7 (fqz) and method-8 (tok3) blocks on the wire and
    records round-trip exactly."""
    import glob as _glob
    import random

    rng = random.Random(9)
    rows = []
    for i in range(1500):
        q = bytearray()
        for p in range(80):
            mu = 38 - (p // 20)
            q.append(max(2, min(40, mu + rng.choice((-2, -1, 0, 0, 1)))))
        rows.append((f"A7:11:FC:2:{i}:{(i * 7) % 9999}:{(i * 13) % 9999}",
                     0, "chr1", 100 + i * 9, 60, "80M", None, 0, 0,
                     "".join(rng.choice("ACGT") for _ in range(80)),
                     "".join(chr(33 + v) for v in q)))
    df = gspark.createDataFrame(
        rows, "qname string, flag int, rname string, pos long, mapq int, "
              "cigar string, rnext string, pnext long, tlen long, "
              "seq string, qual string")
    hdr = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000000"
    out = str(tmp_path / "full31")
    (df.coalesce(1).write.format("cram").option("header", hdr)
       .option("codec", "rans").option("version", "3.1")
       .mode("overwrite").save(out))
    part = _glob.glob(out + "/*.cram")[0]

    # wire: walk the container's blocks, collect methods
    from oxbow_spark.sources.cram import (ContainerHeader, Cursor,
                                          read_file_header)
    _h, _n, first = read_file_header(part)
    with open(part, "rb") as f:
        data = f.read()
    c = Cursor(data, first)
    ch = ContainerHeader(c)
    methods = set()
    # body_offset is the absolute cursor position past the header
    body = Cursor(data[ch.body_offset:ch.body_offset + ch.length])
    while body.p < len(body.b):
        m = body.b[body.p]
        methods.add(m)
        # skip block: method, ctype, cid, csize, rsize, payload, crc
        bc = Cursor(body.b, body.p)
        bc.u8(); bc.u8(); bc.itf8()
        csize = bc.itf8(); bc.itf8()
        bc.read(csize + 4)
        body.p = bc.p
    assert 7 in methods, methods   # fqz QS block
    assert 8 in methods, methods   # tok3 RN block

    back = gspark.read.format("cram").load(part)
    cols = ["qname", "pos", "seq", "qual"]
    assert _rows(back.select(*cols)) == _rows(df.select(*cols))


def test_cram_block_sampled_selection_matches_exhaustive():
    """Blocks above _SELECT_SAMPLE_AT pick their entropy method on
    prefix samples with MARGINAL-rate scoring; the chosen method and
    output match the exhaustive search on representative shapes."""
    import random

    import oxbow_spark.sources.cram_write as cw

    rng = random.Random(5)
    recs = []
    for _ in range(5000):
        base = rng.choice((36, 38, 40))
        q = bytearray()
        for p in range(100):
            mu = base - (p // 25) * 2
            q.append(max(2, min(41, mu + rng.choice((-2, -1, 0, 0, 0, 1)))))
        recs.append(bytes(q))
    qs = b"".join(recs)  # 500 KB, 14-symbol walk: PACK+o1 territory
    names = b"".join(f"A7:1:FC:2:{i}:{(i*7) % 9999}:{(i*13) % 9999}\x00"
                     .encode() for i in range(12000))
    rnd = bytes(rng.randrange(256) for _ in range(300_000))

    orig = cw._SELECT_SAMPLE_AT
    try:
        for raw, kw in ((qs, {}), (qs, {"fqz_recs": recs}),
                        (names, {"names": True}), (rnd, {})):
            cw._SELECT_SAMPLE_AT = 192 << 10
            fast = cw._block(4, 1, raw, codec="rans31", **kw)
            cw._SELECT_SAMPLE_AT = 1 << 30
            full = cw._block(4, 1, raw, codec="rans31", **kw)
            assert fast[0] == full[0], (fast[0], full[0], len(raw))
            # size within 2% of the exhaustive winner (same method,
            # identical payload in practice)
            assert len(fast) <= int(len(full) * 1.02)
    finally:
        cw._SELECT_SAMPLE_AT = orig


class _Msg:
    def __init__(self, path):
        self.path = path


def test_reconcile_parts_drops_orphans_and_orders_numerically(tmp_path):
    """Commit reconciliation: an orphan part file from a losing task
    attempt is deleted; committed parts (and their sidecar indexes)
    survive; the manifest — and committed_parts() — order numerically
    by partition id, where a lexicographic sort would interleave
    part-100000 between part-09999 and part-10000."""
    from oxbow_spark.sources.align_write import (
        _reconcile_parts, committed_parts)

    d = str(tmp_path)
    names = ["part-09999-aaaaaaaaaaaa.bam",
             "part-10000-bbbbbbbbbbbb.bam",
             "part-100000-cccccccccccc.bam"]
    orphan = "part-10000-deadbeefdead.bam"  # losing attempt, same pid
    for n in names + [orphan, names[0] + ".bai", orphan + ".bai"]:
        (tmp_path / n).write_bytes(b"x")

    got = _reconcile_parts(d, [_Msg(os.path.join(d, n)) for n in names])
    assert [os.path.basename(p) for p in got] == names  # numeric order
    left = sorted(os.listdir(d))
    assert orphan not in left and orphan + ".bai" not in left
    assert names[0] + ".bai" in left  # committed sidecar kept
    assert committed_parts(d, ".bam") == [
        os.path.join(d, n) for n in names]


def test_reconcile_parts_append_mode_keeps_prior_writes(tmp_path):
    """fresh=False (append): parts from an earlier write are neither
    deleted nor dropped from the manifest."""
    from oxbow_spark.sources.align_write import (
        _reconcile_parts, committed_parts)

    d = str(tmp_path)
    old = "part-00000-111111111111.bam"
    new = "part-00000-222222222222.bam"
    (tmp_path / old).write_bytes(b"x")
    _reconcile_parts(d, [_Msg(os.path.join(d, old))])
    (tmp_path / new).write_bytes(b"y")
    _reconcile_parts(d, [_Msg(os.path.join(d, new))], fresh=False)
    assert committed_parts(d, ".bam") == [
        os.path.join(d, old), os.path.join(d, new)]
    assert sorted(os.listdir(tmp_path))  # nothing deleted
    assert (tmp_path / old).exists() and (tmp_path / new).exists()


def test_reconcile_parts_scoped_to_writer_suffix(tmp_path):
    """fresh=True reconciliation must only delete uncommitted parts of
    THIS writer's suffix (plus their sidecars) — part files of a
    different format cohabiting the directory survive, mirroring
    _prepare_dir's suffix scope."""
    from oxbow_spark.sources.align_write import _reconcile_parts

    d = str(tmp_path)
    mine = "part-00000-aaaaaaaaaaaa.bam"
    orphan = "part-00000-bbbbbbbbbbbb.bam"
    orphan_side = orphan + ".bai"
    foreign = "part-00000-cccccccccccc.vcf.gz"
    foreign_side = foreign + ".tbi"
    for n in (mine, orphan, orphan_side, foreign, foreign_side):
        (tmp_path / n).write_bytes(b"x")
    _reconcile_parts(d, [_Msg(os.path.join(d, mine))], suffix=".bam")
    left = set(os.listdir(d))
    assert orphan not in left and orphan_side not in left
    assert foreign in left and foreign_side in left
    assert mine in left


def test_reconcile_parts_append_seeds_manifest_from_glob(tmp_path):
    """fresh=False with NO existing manifest (parts written before the
    manifest feature): the manifest seeds from the numeric-sorted
    glob of pre-existing part DATA files — this suffix's AND foreign
    suffixes', since the manifest this commit creates takes precedence
    over the glob fallback for every format sharing the directory.
    Sidecars stay out of the manifest."""
    from oxbow_spark.sources.align_write import (
        _reconcile_parts, committed_parts)

    d = str(tmp_path)
    old = ["part-09999-aaaaaaaaaaaa.bam", "part-100000-bbbbbbbbbbbb.bam"]
    foreign = "part-00000-dddddddddddd.vcf"
    new = "part-00001-cccccccccccc.bam"
    for n in old + [old[0] + ".bai", foreign]:
        (tmp_path / n).write_bytes(b"x")
    (tmp_path / new).write_bytes(b"y")
    _reconcile_parts(d, [_Msg(os.path.join(d, new))], fresh=False,
                     suffix=".bam")
    assert committed_parts(d, ".bam") == [
        os.path.join(d, n) for n in old + [new]]
    # the foreign format stays visible through the new manifest
    assert committed_parts(d, ".vcf") == [os.path.join(d, foreign)]
    # sidecars never enter the manifest
    assert ".bai" not in (tmp_path / "_parts.manifest").read_text()


def test_reconcile_parts_fresh_keeps_foreign_manifest_lines(tmp_path):
    """A fresh commit of one format must not make a cohabiting
    format's parts invisible: committed_parts() prefers the manifest
    when present and suffix-filters it, so the rewrite has to carry
    the other suffix's lines through (and _prepare_dir strips only
    matching-suffix lines instead of deleting the manifest file)."""
    from oxbow_spark.sources.align_write import (
        _prepare_dir, _reconcile_parts, committed_parts)

    d = str(tmp_path)
    vcf = "part-00000-aaaaaaaaaaaa.vcf"
    (tmp_path / vcf).write_bytes(b"v")
    _reconcile_parts(d, [_Msg(os.path.join(d, vcf))], suffix=".vcf")
    assert committed_parts(d, ".vcf") == [os.path.join(d, vcf)]

    # second format, overwrite mode: prepare + write + fresh reconcile
    bam1 = "part-00000-bbbbbbbbbbbb.bam"
    _prepare_dir(d, True, ".bam")
    (tmp_path / bam1).write_bytes(b"b")
    _reconcile_parts(d, [_Msg(os.path.join(d, bam1))], suffix=".bam")
    assert committed_parts(d, ".bam") == [os.path.join(d, bam1)]
    assert committed_parts(d, ".vcf") == [os.path.join(d, vcf)]

    # overwrite the bam write again — vcf still visible, old bam line
    # replaced (its file was reaped by _prepare_dir)
    bam2 = "part-00000-cccccccccccc.bam"
    _prepare_dir(d, True, ".bam")
    (tmp_path / bam2).write_bytes(b"b2")
    _reconcile_parts(d, [_Msg(os.path.join(d, bam2))], suffix=".bam")
    assert committed_parts(d, ".bam") == [os.path.join(d, bam2)]
    assert committed_parts(d, ".vcf") == [os.path.join(d, vcf)]
    assert not (tmp_path / bam1).exists()


def test_reconcile_parts_suffix_prefix_data_files_not_sidecars(tmp_path):
    """A writer whose suffix PREFIXES another's (.vcf vs .vcf.gz) must
    not claim the longer format's DATA files as its sidecars and reap
    them as orphans — a sidecar is recognised by its stem naming a
    present part file (or a known index extension), never by a bare
    stem.endswith(suffix)."""
    from oxbow_spark.sources.align_write import _reconcile_parts

    d = str(tmp_path)
    mine = "part-00000-aaaaaaaaaaaa.vcf"
    gz = "part-00000-bbbbbbbbbbbb.vcf.gz"
    gz_side = gz + ".tbi"
    # dangling sidecar of THIS suffix (parent part already gone):
    # recognised by the known index extension and reaped
    dangling = "part-00001-cccccccccccc.vcf.tbi"
    for n in (mine, gz, gz_side, dangling):
        (tmp_path / n).write_bytes(b"x")
    _reconcile_parts(d, [_Msg(os.path.join(d, mine))], suffix=".vcf")
    left = set(os.listdir(d))
    assert gz in left and gz_side in left  # longer-suffix data survives
    assert mine in left
    assert dangling not in left


def test_committed_parts_glob_fallback_numeric(tmp_path):
    """Without a manifest (pre-reconcile dirs), committed_parts falls
    back to a NUMERIC partition-id sort of the glob."""
    from oxbow_spark.sources.align_write import committed_parts

    for n in ("part-100000-cc.bam", "part-09999-aa.bam",
              "part-10000-bb.bam"):
        (tmp_path / n).write_bytes(b"x")
    got = [os.path.basename(p)
           for p in committed_parts(str(tmp_path), ".bam")]
    assert got == ["part-09999-aa.bam", "part-10000-bb.bam",
                   "part-100000-cc.bam"]


def test_manifest_concurrent_cohabiting_commits(tmp_path):
    """Two formats committing concurrently to one directory must not
    lose each other's manifest lines: the shared `_parts.manifest` is
    read-modify-write at commit, serialized by `_manifest_lock`
    (ADVICE r12 — unlocked RMW could interleave and make the other
    format's parts invisible to the manifest-preferring
    `committed_parts`)."""
    import threading

    from oxbow_spark.sources.align_write import (
        MANIFEST, _PartFile, _reconcile_parts)

    d = str(tmp_path)
    n_each, errs = 40, []

    def commit_loop(sfx: str) -> None:
        try:
            for i in range(n_each):
                nm = f"part-{i:05d}-{sfx}.{sfx}"
                open(os.path.join(d, nm), "w").close()
                _reconcile_parts(
                    d, [_PartFile(os.path.join(d, nm), 1)],
                    fresh=False, suffix="." + sfx)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=commit_loop, args=(s,))
          for s in ("sam", "bed")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    with open(os.path.join(d, MANIFEST), encoding="ascii") as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    assert len(lines) == 2 * n_each, sorted(lines)
    assert sum(ln.endswith(".sam") for ln in lines) == n_each
    assert sum(ln.endswith(".bed") for ln in lines) == n_each
