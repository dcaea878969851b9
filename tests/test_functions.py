"""Genomic scalar functions (SURVEY §2.9 X1-X12) as Catalyst expressions:
checked against the BAM source's parse-time columns on the reference
fixture, plus literal edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from oxbow_spark.functions import genomics as G
from tests.corpus import fixtures_dir

FIX = fixtures_dir()


@pytest.fixture(scope="module")
def bam(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark.read.format("bam").load(f"{FIX}/sample.bam").cache()


def test_cigar_ops_roundtrip(spark):
    df = spark.createDataFrame(
        [("10M1I65M",), ("5S71M",), ("76M",)], ["cigar"]
    ).select("cigar", G.cigar_ops("cigar").alias("ops"))
    for r in df.collect():
        rendered = "".join(f"{o['n']}{o['op']}" for o in r.ops)
        assert rendered == r.cigar


def test_alignment_end_matches_source(bam):
    """The expression-level end must equal the source's parse-time end
    (which mirrors noodles alignment_end) on every mapped record."""
    df = bam.select(
        "end", G.alignment_end("pos", "cigar").alias("calc"),
    ).where(F.col("cigar").isNotNull())
    rows = df.collect()
    assert rows
    assert all(r.calc == r.end for r in rows)


def test_cigar_qlen_matches_seq(bam):
    rows = (
        bam.where(F.col("cigar").isNotNull() & F.col("seq").isNotNull())
        .select(G.cigar_qlen("cigar").alias("qlen"), F.length("seq").alias("n"))
        .collect()
    )
    assert rows
    assert all(r.qlen == r.n for r in rows)


def test_flag_bits(spark):
    df = spark.createDataFrame([(0,), (4,), (16,), (1024 + 16,)], ["flag"])
    got = df.select(
        "flag",
        G.flag_is("flag", "unmapped").alias("u"),
        G.flag_is("flag", "reverse").alias("r"),
        G.flag_is("flag", "duplicate").alias("d"),
        G.strand_from_flag("flag").alias("s"),
    ).collect()
    by = {r.flag: r for r in got}
    assert (by[0].u, by[0].r, by[0].d, by[0].s) == (False, False, False, "+")
    assert by[4].u and not by[4].r
    assert by[16].r and by[16].s == "-"
    assert by[1040].d and by[1040].r and by[1040].s == "-"


def test_phred_roundtrip(bam):
    rows = (
        bam.where(F.col("qual").isNotNull())
        .select(
            "qual",
            G.scores_to_phred(G.phred_to_scores("qual")).alias("rt"),
            G.phred_to_scores("qual").alias("scores"),
        )
        .limit(50)
        .collect()
    )
    assert rows
    for r in rows:
        assert r.rt == r.qual
        assert all(0 <= s <= 93 for s in r.scores)


@pytest.mark.parametrize("gt,allele,phased", [
    ("0/1", [0, 1], [False, False]),
    ("0|1", [0, 1], [True, True]),
    ("1|2|3", [1, 2, 3], [True, True, True]),
    ("0/1|2", [0, 1, 2], [False, False, True]),
    ("|1/2", [1, 2], [True, False]),
    ("./1", [None, 1], [False, False]),
    ("0", [0], [False]),
])
def test_parse_gt(spark, gt, allele, phased):
    r = spark.createDataFrame([(gt,)], ["gt"]).select(
        G.parse_gt("gt").alias("g")
    ).first().g
    assert list(r.allele) == allele, gt
    assert list(r.phased) == phased, gt


def test_item_rgb(spark):
    df = spark.createDataFrame(
        [Row(c="255,0,0"), Row(c="0"), Row(c="."), Row(c="1,2,3")]
    ).select("c", G.item_rgb("c").alias("rgb"))
    by = {r.c: r.rgb for r in df.collect()}
    assert list(by["255,0,0"]) == [255, 0, 0]
    assert by["0"] is None and by["."] is None
    assert list(by["1,2,3"]) == [1, 2, 3]


def test_filter_region_both_coord_systems(spark):
    # record occupying 0-based half-open [100, 150) == 1-based closed [101, 150]
    df01 = spark.createDataFrame([("chr1", 100, 150)], ["chrom", "start", "end"])
    df11 = spark.createDataFrame([("chr1", 101, 150)], ["chrom", "start", "end"])
    # overlapping region (1-based UCSC: 150-200 touches the last base)
    assert G.filter_region(df01, "chr1:150-200", "01").count() == 0  # 01: [149? no —
    # under "01" the string is 0-based half-open [150,200) → no overlap with [100,150)
    assert G.filter_region(df01, "chr1:100-150", "01").count() == 1
    assert G.filter_region(df11, "chr1:150-200", "11").count() == 1  # 1-based: base 150 shared
    assert G.filter_region(df11, "chr1:151-200", "11").count() == 0
    assert G.filter_region(df01, "chr2:100-150", "01").count() == 0
