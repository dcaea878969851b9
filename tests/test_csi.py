"""CSI (.csi) index support: BCF range pushdown + chunked parallel scans,
and tabix-style CSI for BGZF text (reference `oxbow/src/util/index.rs`;
fixtures `sample.bcf.csi`, `sample.vcf.gz.csi`)."""

from __future__ import annotations

import shutil

import pytest

from tests.corpus import fixtures_dir, needs_checkout

FIX = fixtures_dir()


@pytest.fixture(scope="module")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


@needs_checkout
def test_csi_parse_structure():
    from oxbow_spark.sources.bgzf import CsiIndex

    idx = CsiIndex.read(f"{FIX}/sample.bcf.csi")
    assert idx.min_shift == 14 and idx.depth == 5
    assert idx.names is None  # BCF csi: aux is not tabix-format
    nonempty = [r for r in idx.refs if r.bins]
    assert nonempty
    ref = nonempty[0]
    assert ref.loffsets and ref.intervals == sorted(set(ref.loffsets.values()))
    # tabix-style CSI carries the sequence-name dictionary in aux
    vidx = CsiIndex.read(f"{FIX}/sample.vcf.gz.csi")
    assert vidx.names and "1" in vidx.names


def test_csi_reg2bins_matches_bai_instance():
    from oxbow_spark.sources.bgzf import reg2bins

    # BAI 5-level constants are the min_shift=14/depth=5 instance
    assert sorted(reg2bins(0, 1 << 14)) == [0, 1, 9, 73, 585, 4681]
    bins = reg2bins(100_000, 200_000)
    assert 0 in bins and all(b < 37449 for b in bins)


@needs_checkout
def test_bcf_region_prunes_partitions():
    from oxbow_spark.sources.bcf import BcfDataSource, BcfReader

    kw = {"path": f"{FIX}/sample.bcf", "genotype_fields": "", "info_fields": ""}
    full_parts = BcfReader(BcfDataSource(kw)).partitions()
    reg_parts = BcfReader(
        BcfDataSource({**kw, "regions": "Y:2760000-2780000"})
    ).partitions()
    # region planning yields vpos chunk partitions, tighter than full file
    assert all(p.vstart >= 0 for p in reg_parts)
    total_reg = sum(p.vend - p.vstart for p in reg_parts)
    total_full = sum(p.vend - p.vstart for p in full_parts)
    assert 0 < total_reg < total_full


@needs_checkout
def test_bcf_chunked_scan_equality(gspark):
    kw = dict(genotype_fields="GT", samples="HG00096", info_fields="AC,AN")
    whole = gspark.read.format("bcf").options(**kw).load(f"{FIX}/sample.bcf")
    chunked = (
        gspark.read.format("bcf").options(**kw).option("chunksize", "1")
        .load(f"{FIX}/sample.bcf")
    )
    assert chunked.rdd.getNumPartitions() > 1
    a = sorted(tuple(map(str, r)) for r in whole.collect())
    b = sorted(tuple(map(str, r)) for r in chunked.collect())
    assert a == b and len(a) == 100


@needs_checkout
def test_bcf_multi_region_no_duplicates(gspark):
    kw = dict(genotype_fields="", info_fields="")

    def rows(regions):
        df = (
            gspark.read.format("bcf").options(**kw)
            .option("regions", regions).load(f"{FIX}/sample.bcf")
        )
        return sorted((r.chrom, r.pos, r.ref) for r in df.collect())

    merged = rows("Y:2650000-2800000")
    overlapping = rows("Y:2650000-2770000;Y:2750000-2800000")
    assert overlapping == merged and merged
    assert len(merged) == len(set(merged))


@needs_checkout
def test_vcf_gz_csi_only_pushdown(gspark, tmp_path):
    # a bgzipped VCF shipping only a .csi (no .tbi) still gets
    # index-pushed region chunks
    gz = tmp_path / "s.vcf.gz"
    shutil.copy(f"{FIX}/sample.vcf.gz", gz)
    shutil.copy(f"{FIX}/sample.vcf.gz.csi", f"{gz}.csi")
    kw = dict(info_fields="", genotype_fields="")
    via_csi = (
        gspark.read.format("vcf").options(**kw)
        .option("regions", "1:60000-1000000").load(str(gz))
    )
    plain = (
        gspark.read.format("vcf").options(**kw)
        .option("regions", "1:60000-1000000").load(f"{FIX}/sample.vcf")
    )
    a = sorted((r.chrom, r.pos) for r in via_csi.collect())
    b = sorted((r.chrom, r.pos) for r in plain.collect())
    assert a == b and a
