"""Automatic filter → region pushdown (Spark 4 DataSource pushFilters):
plain DataFrame filters prune BAM index chunks / CRAM containers, with
the exact predicate still applied post-scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

from oxbow_spark.sources.pushdown import region_from_filters
from tests.corpus import fixtures_dir, needs_checkout

FIX = fixtures_dir()


@pytest.fixture(scope="module")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


def test_region_from_filters_bounds():
    reg = region_from_filters(
        [EqualTo(("rname",), "chr1"), GreaterThanOrEqual(("pos",), 100),
         LessThan(("pos",), 200)],
        "rname", "pos", coord_offset=0,
    )
    assert reg.name == "chr1"
    assert reg.start == 99  # native 1-based 100 → 0-based 99
    assert reg.end == 199   # pos < 200 → last start 199 (1-based) → end0 199


def test_region_from_filters_requires_chrom():
    assert region_from_filters(
        [LessThan(("pos",), 200)], "rname", "pos", 0) is None


def test_region_from_filters_coord_offset():
    # source emitting "01"-shifted starts: filter values are 0-based
    reg = region_from_filters(
        [EqualTo(("rname",), "chr1"), GreaterThanOrEqual(("pos",), 99)],
        "rname", "pos", coord_offset=-1,
    )
    assert reg.start == 99  # 0-based 99 → native 100 → region start0 99


def test_bam_filter_pushdown_matches_plain_filter(gspark):
    bam = f"{FIX}/sample.bam"
    pushed = (
        gspark.read.format("bam").load(bam)
        .filter((F.col("rname") == "chr1") & (F.col("pos") >= 10000)
                & (F.col("pos") < 950000))
    )
    baseline = [
        r for r in gspark.read.format("bam").load(bam).collect()
        if r.rname == "chr1" and r.pos is not None and 10000 <= r.pos < 950000
    ]
    got = pushed.collect()
    assert sorted(r.qname for r in got) == sorted(r.qname for r in baseline)
    assert len(got) > 0


@needs_checkout
def test_cram_filter_pushdown_matches_plain_filter(gspark):
    cram = f"{FIX}/sample.cram"
    pushed = (
        gspark.read.format("cram").load(cram)
        .filter((F.col("rname") == "chr2") & (F.col("pos") >= 1))
    )
    got = pushed.collect()
    assert [r.qname for r in got] == ["r001"]


def test_bam_reader_prunes_partitions():
    """Unit-level: pushFilters derives a region, and partitions() switch
    from whole-file ranges to index-chunk ranges carrying the residual."""
    from oxbow_spark.sources.bam import BamDataSource, PushdownBamReader

    src = BamDataSource({"path": f"{FIX}/sample.bam"})
    rdr = PushdownBamReader(src)
    residual = rdr.pushFilters(
        [EqualTo(("rname",), "chr3"), GreaterThanOrEqual(("pos",), 196950),
         LessThan(("pos",), 196975)]
    )
    assert len(list(residual)) == 3  # everything stays residual
    assert rdr.regions and rdr.regions[0].name == "chr3"
    parts = rdr.partitions()
    assert all(
        p.regions is not None and p.regions[0][0] == "chr3" for p in parts
    )
    # index chunks are tighter than the whole file
    whole = PushdownBamReader(src).partitions()
    assert max(p.vend for p in parts) <= max(w.vend for w in whole)


def test_bed_filter_pushdown_native01(gspark):
    """BED starts are natively 0-based: the derived region must not apply
    the 1-based −1 shift."""
    bed = f"{FIX}/sample.bed"
    base = gspark.read.format("bed").option("bed_schema", "bed6").load(bed)
    allr = base.collect()
    from collections import Counter

    chrom = Counter(r.chrom for r in allr).most_common(1)[0][0]
    starts = sorted(r.start for r in allr if r.chrom == chrom)
    lo, hi = starts[0], starts[len(starts) // 2] + 1
    pushed = base.filter(
        (F.col("chrom") == chrom) & (F.col("start") >= lo) & (F.col("start") < hi)
    ).collect()
    expect = [r for r in allr if r.chrom == chrom and lo <= r.start < hi]
    assert sorted((r.chrom, r.start, r.end) for r in pushed) == sorted(
        (r.chrom, r.start, r.end) for r in expect
    )
    assert pushed


def test_vcf_filter_pushdown(gspark):
    vcf = f"{FIX}/sample.vcf"
    base = gspark.read.format("vcf").load(vcf)
    allr = base.select("chrom", "pos").collect()
    chrom = allr[0].chrom
    mx = max(r.pos for r in allr if r.chrom == chrom)
    pushed = base.filter((F.col("chrom") == chrom) & (F.col("pos") <= mx)).count()
    expect = sum(1 for r in allr if r.chrom == chrom and r.pos <= mx)
    assert pushed == expect > 0


def test_text_reader_derives_region_unit():
    from oxbow_spark.sources.base import PushdownTextFormatReader
    from oxbow_spark.sources.bed import BedDataSource

    src = BedDataSource({"path": f"{FIX}/sample.bed", "bed_schema": "bed6"})
    opts = dict(src.options)
    opts["native_cs"] = src.NATIVE_CS
    rdr = PushdownTextFormatReader(src.codec(), src.paths, opts)
    rdr.pushFilters([EqualTo(("chrom",), "chr1"),
                     GreaterThanOrEqual(("start",), 100),
                     LessThan(("start",), 200)])
    assert rdr.regions and rdr.regions[0].name == "chr1"
    # native "01": no ±1 shift
    assert (rdr.regions[0].start, rdr.regions[0].end) == (100, 200)


def test_vanilla_session_still_reads(gspark):
    """A session without spark.sql.python.filterPushdown.enabled must get
    the plain reader (Spark refuses pushFilters readers otherwise)."""
    from oxbow_spark.sources.bam import BamDataSource, PushdownBamReader

    src = BamDataSource({"path": f"{FIX}/sample.bam"})
    gspark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        plain = src.reader(src.spark_schema)
        assert not isinstance(plain, PushdownBamReader)
        assert not hasattr(type(plain), "pushFilters") or "pushFilters" not in type(plain).__dict__
    finally:
        gspark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    assert isinstance(src.reader(src.spark_schema), PushdownBamReader)
