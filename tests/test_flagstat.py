"""flagstat operator: hand-computed counters on synthetic flags, and a
cross-check against an independent Python count over the real BAM
fixture's flags."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oxbow_spark.operators.flagstat import flagstat
from tests.corpus import fixtures_dir

FIX = fixtures_dir()


def test_flagstat_hand_computed(spark):
    rows = [
        (0x1 | 0x2 | 0x40,),          # paired, proper, read1, mapped
        (0x1 | 0x2 | 0x80,),          # paired, proper, read2, mapped
        (0x1 | 0x4 | 0x40,),          # paired, read1, unmapped
        (0x1 | 0x8 | 0x80,),          # paired, read2, mate unmapped -> singleton
        (0x100,),                     # secondary, mapped
        (0x800 | 0x400,),             # supplementary duplicate
        (0x200,),                     # qc fail, unpaired, mapped
    ]
    df = spark.createDataFrame(rows, "flag int")
    r = flagstat(df).collect()[0]
    assert r.total == 7
    assert r.primary == 5
    assert r.secondary == 1 and r.supplementary == 1
    assert r.duplicates == 1 and r.primary_duplicates == 0
    assert r.mapped == 6 and r.primary_mapped == 4
    assert r.qc_fail == 1
    assert r.paired_reads == 4
    assert r.read1 == 2 and r.read2 == 2
    assert r.properly_paired == 2
    assert r.with_mate_mapped == 2   # the two proper-pair reads
    assert r.singletons == 1
    assert r.mapped_rate == pytest.approx(6 / 7)
    assert r.properly_paired_rate == pytest.approx(2 / 4)


def test_flagstat_on_bam_fixture(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    df = spark.read.format("bam").load(f"{FIX}/sample.bam")
    assert "flag" in df.columns
    flags = [r.flag for r in df.select("flag").collect()]
    r = flagstat(df, mapq_col="mapq").collect()[0]

    def c(pred):
        return sum(1 for f in flags if pred(f))

    pri = lambda f: not (f & 0x100) and not (f & 0x800)  # noqa: E731
    assert r.total == len(flags)
    assert r.primary == c(pri)
    assert r.mapped == c(lambda f: not (f & 0x4))
    assert r.paired_reads == c(lambda f: pri(f) and (f & 0x1))
    assert r.properly_paired == c(
        lambda f: pri(f) and (f & 0x1) and (f & 0x2) and not (f & 0x4))
    assert r.singletons == c(
        lambda f: pri(f) and (f & 0x1) and not (f & 0x4) and (f & 0x8))


def test_flagstat_single_aggregation_plan(spark):
    df = spark.createDataFrame([(0,)], "flag int")
    plan = flagstat(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan, plan
    assert plan.count("HashAggregate") <= 2 or "SortAggregate" in plan, plan


def test_template_stats(spark):
    import statistics

    from oxbow_spark.operators.flagstat import template_stats

    rows = [
        (0x1 | 0x2 | 0x40, 300),    # counted
        (0x1 | 0x2 | 0x80, -300),   # mate: tlen<0, not double-counted
        (0x1 | 0x2 | 0x40, 450),    # counted
        (0x1 | 0x2 | 0x40, 20000),  # above max_insert: excluded
        (0x1 | 0x40, 500),          # not proper pair: excluded
        (0x1 | 0x2 | 0x4 | 0x40, 400),   # unmapped: excluded
        (0x1 | 0x2 | 0x100 | 0x40, 400),  # secondary: excluded
    ]
    df = spark.createDataFrame(rows, "flag int, tlen long")
    r = template_stats(df).collect()[0]
    assert r.n_templates == 2
    assert r.mean_insert == pytest.approx(375.0)
    assert r.sd_insert == pytest.approx(statistics.stdev([300, 450]))
    assert (r.min_insert, r.max_insert) == (300, 450)


def test_template_stats_on_fixture(spark):
    from oxbow_spark.operators.flagstat import template_stats
    from oxbow_spark.sources import register_all

    register_all(spark)
    df = spark.read.format("bam").load(f"{FIX}/sample.bam")
    r = template_stats(df).collect()[0]
    flags = [(x.flag, x.tlen) for x in df.select("flag", "tlen").collect()]
    vals = [t for f, t in flags
            if (f & 0x1) and (f & 0x2) and not (f & 0x4)
            and not (f & 0x100) and not (f & 0x800) and 0 < t <= 10000]
    assert r.n_templates == len(vals)
    if vals:
        assert r.mean_insert == pytest.approx(sum(vals) / len(vals))


def test_sn_stats_random_vs_python(spark):
    """samtools-stats SN panel vs a brute-force python twin over
    random synthetic records (flags walk all bits; cigars mix M/I/S/=/X
    ops; per-base qualities vary within a read)."""
    import math
    import random

    from oxbow_spark.operators.flagstat import sn_stats

    rng = random.Random(83)
    rows = []
    for i in range(500):
        flag = rng.randrange(4096)
        ln = rng.randrange(20, 80)
        seq = "".join(rng.choice("ACGT") for _ in range(ln))
        qual = "".join(chr(33 + rng.randrange(42)) for _ in range(ln))
        n_m = rng.randrange(5, ln)
        cigar = (f"{n_m}M{rng.randrange(1, 9)}I"
                 f"{rng.randrange(1, 9)}S{rng.randrange(1, 9)}="
                 f"{rng.randrange(1, 9)}X{rng.randrange(1, 9)}D")
        if flag & 0x4:
            cigar = "*"
        rows.append((flag, seq, qual, cigar, rng.randrange(12),
                     rng.randrange(61), rng.randrange(-200, 1100)))
    df = spark.createDataFrame(
        rows, "flag int, seq string, qual string, cigar string, "
              "nm long, mapq int, tlen long")
    r = sn_stats(df).collect()[0]

    def cig_bases(c):
        import re
        return sum(int(n) for n, op in re.findall(r"(\d+)([MIDNSHP=X])", c)
                   if op in "MI=X")

    raw = [x for x in rows if not (x[0] & 0x100) and not (x[0] & 0x800)]
    mapped = [x for x in raw if not (x[0] & 0x4)]
    tpl = [x[6] for x in raw
           if (x[0] & 0x1) and (x[0] & 0x2) and not (x[0] & 0x4)
           and 0 < x[6] <= 10000]
    assert r.raw_total_sequences == len(raw)
    assert r.reads_mapped == len(mapped)
    assert r.reads_mq0 == sum(1 for x in mapped if x[5] == 0)
    assert r.total_length == sum(len(x[1]) for x in raw)
    assert r.maximum_length == max(len(x[1]) for x in raw)
    assert r.bases_mapped == sum(len(x[1]) for x in mapped)
    assert r.bases_mapped_cigar == sum(cig_bases(x[3]) for x in mapped)
    assert r.mismatches == sum(x[4] for x in mapped)
    assert r.error_rate == r.mismatches / r.bases_mapped_cigar
    qs = sum(ord(c) - 33 for x in raw for c in x[2])
    assert r.average_quality == qs / r.total_length
    s1, s2, n = sum(tpl), sum(t * t for t in tpl), len(tpl)
    assert r.insert_size_average == s1 / n
    assert r.insert_size_sd == pytest.approx(
        math.sqrt((s2 - s1 * s1 / n) / (n - 1)), rel=1e-12)


def test_sn_stats_on_fixture(spark):
    """SN panel over the real BAM fixture: cigar/qual/NM columns from
    the scanner feed straight in."""
    from oxbow_spark.operators.flagstat import sn_stats
    from oxbow_spark.sources import register_all

    register_all(spark)
    df = spark.read.format("bam").load(f"{FIX}/sample.bam")
    cols = set(df.columns)
    nm = "nm" if "nm" in cols else None
    base = df.select(
        "flag", "seq", "qual", "cigar", "mapq", "tlen",
        (F.lit(0).cast("long") if nm is None else F.col(nm)).alias("_nm"))
    r = sn_stats(base, nm_col="_nm").collect()[0]
    recs = df.select("flag", "seq").collect()
    raw = [x for x in recs
           if not (x.flag & 0x100) and not (x.flag & 0x800)]
    assert r.raw_total_sequences == len(raw)
    assert r.total_length == sum(len(x.seq) for x in raw if x.seq)
