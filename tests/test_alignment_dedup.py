"""Mark-duplicates operator vs the reference walkthrough semantics
(`sam_mark_duplicates.md`): unclipped 5′ starts with soft/hard clips and
strand, pair keys, best-pair selection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oxbow_spark.operators import alignment_dedup as AD
from tests.corpus import fixtures_dir, needs_checkout


def _qual(scores):
    return "".join(chr(s + 33) for s in scores)


@pytest.mark.parametrize("pos,cigar,flag,expected", [
    (100, "76M", 0, 100),            # forward, no clips
    (100, "5S71M", 0, 95),           # forward: minus leading soft clip
    (100, "3H5S68M", 0, 92),         # forward: H+S both count
    (100, "76M", 16, 175),           # reverse: pos + 76 - 1
    (100, "70M6S", 16, 175),         # reverse: + trailing clips
    (100, "5S65M10N1D4S", 16, 179),  # reverse: alignedref=76 (65M+10N+1D), +4S -1
])
def test_unclipped_5p_start(spark, pos, cigar, flag, expected):
    df = spark.createDataFrame([(pos, cigar, flag)], ["pos", "cigar", "flag"])
    got = df.select(AD.unclipped_5p_start("pos", "cigar", "flag").alias("p5")).first().p5
    assert got == expected


def test_total_quality(spark):
    df = spark.createDataFrame([( _qual([30, 20, 10]),), (None,)], ["qual"])
    got = [r.tq for r in df.select(AD.total_quality("qual").alias("tq")).collect()]
    assert got == [60, 0]


def test_mark_duplicates_end_to_end(spark):
    cols = ["qname", "flag", "rname", "pos", "cigar", "qual"]
    rows = [
        # pair A: chr1:(100+, 300-) high quality
        ("pairA", 0, "chr1", 100, "50M", _qual([40] * 50)),
        ("pairA", 16, "chr1", 251, "50M", _qual([40] * 50)),
        # pair B: same 5' signature, lower quality → duplicate, dropped
        ("pairB", 0, "chr1", 100, "50M", _qual([10] * 50)),
        ("pairB", 16, "chr1", 251, "50M", _qual([10] * 50)),
        # pair C: same left end but different right end → kept
        ("pairC", 0, "chr1", 100, "50M", _qual([20] * 50)),
        ("pairC", 16, "chr1", 351, "50M", _qual([20] * 50)),
        # soft-clip equivalence: pair D's clipped read has the same
        # unclipped 5' as pair A's (95+5 clip = 100) → duplicate of A
        ("pairD", 0, "chr1", 105, "5S45M", _qual([5] * 50)),
        ("pairD", 16, "chr1", 256, "45M5S", _qual([5] * 50)),
        # unpaired read → filtered out
        ("solo", 0, "chr2", 10, "50M", _qual([40] * 50)),
    ]
    # pairD: fwd 5' = 105-5 = 100 ✓; rev 5' = 256+45+5-1 = 305 vs pairA rev
    # 251+50-1=300 → NOT equal; adjust pairD rev to land on 300: pos 251
    rows[7] = ("pairD", 16, "chr1", 251, "45M5S", _qual([5] * 50))
    # rev 5' = 251+45+5-1 = 300 ✓ → same signature as pairA
    df = spark.createDataFrame(rows, cols)
    out = AD.mark_duplicates(df)
    kept = sorted({r.qname for r in out.collect()})
    assert kept == ["pairA", "pairC"]
    # every kept qname contributes both mates
    counts = {r.qname: r.n for r in out.groupBy("qname").agg(F.count("*").alias("n")).collect()}
    assert all(v == 2 for v in counts.values())
    assert out.columns == cols


@needs_checkout  # needs a BAM without duplicate pairs
def test_mark_duplicates_runs_on_fixture_bam(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    bam = spark.read.format("bam").load(f"{fixtures_dir()}/sample.bam")
    out = AD.mark_duplicates(bam)
    # fixture reads all have distinct signatures: paired qnames survive
    paired = (
        bam.groupBy("qname").count().where(F.col("count") >= 2).count()
    )
    assert out.select("qname").distinct().count() == paired
