"""BAM DataSource tests: spark.read.format('bam') against the fixture
sample.bam + .bai (tests/corpus.py resolves the directory), cross-checked
against structural invariants and the index-driven partition planner."""

from __future__ import annotations

import os
import struct

import pytest

from tests.corpus import fixtures_dir, needs_checkout

FIX = fixtures_dir()
BAM = f"{FIX}/sample.bam"


@pytest.fixture(scope="session")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


def _all_records():
    from oxbow_spark.sources.bam import parse_record, read_bam_header
    from oxbow_spark.sources.bgzf import BgzfReader

    rows = []
    with BgzfReader(BAM) as r:
        _, names, _ = read_bam_header(r)
        while True:
            szb = r.read(4)
            if len(szb) < 4:
                break
            (bs,) = struct.unpack("<i", szb)
            buf = r.read(bs)
            if len(buf) < bs:
                break
            rows.append(parse_record(buf, names, False)[0])
    return rows


def test_bam_full_scan(gspark):
    df = gspark.read.format("bam").load(BAM)
    rows = df.collect()
    expect = _all_records()
    assert len(rows) == len(expect)
    got0 = list(rows[0])
    assert got0 == expect[0]
    assert df.schema["pos"].dataType.typeName() == "integer"


def test_bam_matches_region_query(gspark):
    # index-pushed region scan ≡ full scan + overlap filter (residual
    # re-check correctness, SURVEY F1)
    full = _all_records()
    region = "chr1:10,540-10,560"
    df = gspark.read.format("bam").option("regions", region).load(BAM)
    got = sorted(r.qname for r in df.collect())
    want = sorted(
        r[0] for r in full
        if r[2] == "chr1" and r[3] is not None
        and (r[3] - 1) < 10560 and (r[11] or r[3]) > 10539
    )
    assert got == want and got  # non-empty


@needs_checkout
def test_bam_tags_scan(gspark):
    df = gspark.read.format("bam").option("tags", "scan").load(BAM)
    t = {f.name: f.dataType.simpleString() for f in df.schema["tags"].dataType.fields}
    assert t["NM"] == "bigint" and t["MD"] == "string" and t["XT"] == "string"
    row = df.select("tags").first()[0]
    assert row.NM is not None


def test_bam_array_tags_decode_like_sam_text():
    """A B-array tag decoded from BAM bytes parses to the same list as
    its SAM text form (it used to come back null)."""
    from oxbow_spark.models.sam_header import TagDef
    from oxbow_spark.sources.bam import decode_tags

    buf = (b"BQBC" + struct.pack("<i", 3) + bytes([1, 2, 3])
           + b"XFBf" + struct.pack("<if", 1, 0.5))
    tags = decode_tags(buf, 0, len(buf))
    bq = TagDef("BQ", "BC")
    assert bq.parse(*tags["BQ"]) == bq.parse("B", "C,1,2,3") == [1, 2, 3]
    assert TagDef("XF", "Bf").parse(*tags["XF"]) == [0.5]


def test_bam_explicit_tag_defs(gspark):
    df = gspark.read.format("bam").option("tag_defs", "NM:i,MD:Z").load(BAM)
    assert [f.name for f in df.schema["tags"].dataType.fields] == ["NM", "MD"]


@needs_checkout  # keys records by qname; FIXTURES.md read pairs share one
def test_bam_projection_and_coords(gspark):
    df = (
        gspark.read.format("bam").option("fields", "rname,pos,end,qname")
        .option("coords", "01").load(BAM)
    )
    assert df.columns == ["rname", "pos", "end", "qname"]
    full = {r[0]: r for r in _all_records()}
    for r in df.collect():
        ref = full[r.qname]
        assert r.pos == ref[3] - 1  # shifted
        assert r.end == ref[11]    # unshifted


def test_bam_partition_planner(gspark):
    # chunksize=1 byte → every linear-index cut becomes a partition; rows
    # must be preserved exactly (record-aligned vpos splitting, SURVEY D1)
    df = gspark.read.format("bam").option("chunksize", "1").load(BAM)
    assert sorted(r.qname for r in df.collect()) == sorted(r[0] for r in _all_records())


def test_bam_header_metadata():
    from oxbow_spark.sources.bam import BamDataSource

    src = BamDataSource({"path": BAM})
    h = src.header()
    assert "chr1" in h.chrom_sizes and h.chrom_sizes["chr1"] == 248956422


def test_bam_malformed():
    from oxbow_spark.sources.bam import BamDataSource

    # the twin must exist: a missing path would raise too
    assert os.path.exists(f"{FIX}/malformed.bam")
    with pytest.raises(Exception):
        BamDataSource({"path": f"{FIX}/malformed.bam"}).header()


def test_bam_multi_region_and_empty(gspark):
    mr = (
        gspark.read.format("bam")
        .option("regions", "chr1:10,540-10,560;chr3:196,900-197,000").load(BAM)
    )
    assert sorted({r.rname for r in mr.collect()}) == ["chr1", "chr3"]
    assert gspark.read.format("bam").option("regions", "chr22:1-100").load(BAM).count() == 0


def test_bam_multi_region_no_duplicates(gspark):
    # a record overlapping two requested regions — or two regions sharing
    # one index chunk — must be returned exactly once (union semantics)
    def rows(regions):
        df = gspark.read.format("bam").option("regions", regions).load(BAM)
        return sorted((r.qname, r.flag, r.rname, r.pos) for r in df.collect())

    merged = rows("chr1:10,000-11,000")
    overlapping = rows("chr1:10,000-10,600;chr1:10,400-11,000")
    assert overlapping == merged  # no dups, same union
    # disjoint-but-nearby regions: every record at most once
    near = rows("chr1:10,540-10,545;chr1:10,550-10,560")
    assert len(near) == len(set(near))
    single = rows("chr1:10,540-10,560")
    assert set(near) <= set(single)


def test_utf8_array_offset_overflow_guard():
    """Column bytes past the int32 Arrow offset range must raise, not
    silently wrap into a corrupt column."""
    import numpy as np
    import pytest as _pytest

    from oxbow_spark.sources.bam import _utf8_array

    lengths = np.full(70000, 40000, dtype=np.int64)  # 2.8e9 > 2^31
    with _pytest.raises(ValueError, match="int32 offset range"):
        _utf8_array(lengths, np.zeros(1, dtype=np.uint8))


def test_bam_byte_based_flush(monkeypatch):
    """With a tiny byte cap the reader must emit many small batches whose
    concatenation equals the single-batch scan."""
    import pyarrow as pa

    from oxbow_spark.sources import bam as bam_mod
    from oxbow_spark.sources import bgzf

    def scan():
        src = bam_mod.BamDataSource({"path": BAM})
        rd = src.reader(None)
        batches = []
        for part in rd.partitions():
            batches.extend(rd.read(part))
        return batches

    whole = pa.Table.from_batches(scan())
    monkeypatch.setattr(bgzf, "MAX_BATCH_BYTES", 2048)
    chunked = scan()
    assert len(chunked) > len(whole.to_batches())
    assert pa.Table.from_batches(chunked).equals(whole)
