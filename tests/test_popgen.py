"""Allele/genotype/HWE panel vs a brute-force Python reference —
synthetic cohorts and the real VCF fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oxbow_spark.operators.popgen import allele_stats, genotype_alleles
from tests.corpus import fixtures_dir, needs_checkout


def _py_stats(variants):
    out = {}
    for chrom, pos, ref, alt, gts in variants:
        called = [g for g in gts if g is not None and None not in g]
        flat = [a for g in called for a in g]
        an = len(flat)
        ac = [sum(1 for a in flat if a == i + 1) for i in range(len(alt))] \
            if alt else []
        af = [c / an if an else None for c in ac]
        het = sum(1 for g in called if len(set(g)) > 1)
        hr = sum(1 for g in called if len(set(g)) == 1 and g[0] == 0)
        ha = sum(1 for g in called if len(set(g)) == 1 and g[0] > 0)
        hwe = maf = None
        if len(alt) == 1 and an:
            q = ac[0] / an
            maf = round(min(q, 1 - q), 6)
            if all(len(g) == 2 for g in called) and called:
                n = len(called)
                p = 1 - q
                chi = 0.0
                for obs, exp in ((hr, p * p * n), (het, 2 * p * q * n),
                                 (ha, q * q * n)):
                    if exp > 0:
                        chi += (obs - exp) ** 2 / exp
                hwe = round(chi, 6)
        out[(chrom, pos)] = (an, ac, [round(x, 6) if x is not None else None
                                      for x in af],
                             len(called), het, hr, ha, maf, hwe)
    return out


def _run(spark, variants):
    rows = [(c, p, r, a, g) for c, p, r, a, g in variants]
    df = spark.createDataFrame(
        rows, "chrom string, pos int, ref string, alt array<string>, "
              "alleles array<array<int>>")
    got = {}
    for r in allele_stats(df).collect():
        got[(r.chrom, r.pos)] = (r.an, list(r.ac), list(r.af), r.n_called,
                                 r.n_het, r.n_hom_ref, r.n_hom_alt,
                                 r.maf, r.hwe_chi2)
    return got


def test_allele_stats_hand_and_reference(spark):
    variants = [
        # classic biallelic trio: 0/0, 0/1, 1/1
        ("1", 100, "A", ["G"], [[0, 0], [0, 1], [1, 1]]),
        # missing genotypes excluded
        ("1", 200, "C", ["T"], [None, [0, 1], [None, 1], [0, 0]]),
        # multiallelic: no HWE/MAF, per-alt AC
        ("1", 300, "G", ["A", "T"], [[1, 2], [0, 1], [2, 2]]),
        # haploid calls: no HWE (not diploid), counts still exact
        ("2", 100, "T", ["C"], [[1], [0], [1]]),
        # all missing
        ("2", 200, "A", ["G"], [None, None]),
        # perfect HWE at p=q=0.5: chi2 == 0
        ("3", 100, "A", ["C"], [[0, 0], [0, 1], [0, 1], [1, 1]]),
    ]
    got = _run(spark, variants)
    want = _py_stats(variants)
    for k in want:
        g, w = got[k], want[k]
        assert g[:7] == w[:7], (k, g, w)
        assert (g[7] is None) == (w[7] is None)
        if w[7] is not None:
            assert g[7] == pytest.approx(w[7], abs=1e-6)
        assert (g[8] is None) == (w[8] is None)
        if w[8] is not None:
            assert g[8] == pytest.approx(w[8], abs=1e-6)
    assert got[("3", 100)][8] == pytest.approx(0.0)
    assert got[("1", 100)][0] == 6 and got[("1", 100)][1] == [3]


@needs_checkout
def test_allele_stats_on_vcf_fixture(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    df = (spark.read.format("vcf")
          .option("genotypes", "true").option("samples_nested", "true")
          .load(f"{fixtures_dir()}/sample.vcf"))
    with_al = df.withColumn("alleles", genotype_alleles(df))
    out = allele_stats(with_al)
    rows = [(r.chrom, r.pos, r.ref, list(r.alt),
             [list(g) if g is not None else None for g in r2.alleles])
            for r, r2 in zip(out.collect(),
                             with_al.select("chrom", "pos", "alleles")
                             .collect())]
    # cross-check against the python reference on the same scan data
    variants = [(c, p, rf, al, gt) for c, p, rf, al, gt in rows]
    want = _py_stats(variants)
    got = {(r.chrom, r.pos): (r.an, list(r.ac), r.n_called, r.n_het)
           for r in out.collect()}
    for k, w in want.items():
        assert got[k][0] == w[0] and got[k][1] == w[1]
        assert got[k][2] == w[3] and got[k][3] == w[4]
    assert len(got) >= 24


def test_sample_qc(spark):
    from oxbow_spark.sources import register_all

    from oxbow_spark.operators.popgen import sample_qc

    register_all(spark)
    df = (spark.read.format("vcf")
          .option("genotypes", "true").option("samples_nested", "true")
          .load(f"{fixtures_dir()}/sample.vcf"))
    got = {r.sample: r for r in sample_qc(df).collect()}
    names = [f.name for f in df.schema["samples"].dataType.fields]
    assert set(got) == set(names)
    # python reference
    rows = df.select("samples").collect()
    for si, s in enumerate(names):
        n = len(rows)
        gts = [r.samples[si].GT.allele if r.samples[si] and r.samples[si].GT
               else None for r in rows]
        called = [g for g in gts if g is not None and None not in g]
        het = sum(1 for g in called if len(set(g)) > 1)
        assert got[s].n_variants == n
        assert got[s].n_called == len(called), s
        assert got[s].n_het == het, s
        assert got[s].call_rate == pytest.approx(
            round(len(called) / max(n, 1), 6))


def test_titv(spark):
    from oxbow_spark.operators.popgen import titv

    rows = [
        ("1", 1, "A", ["G"]),   # ti
        ("1", 2, "C", ["T"]),   # ti
        ("1", 3, "A", ["C"]),   # tv
        ("1", 4, "G", ["T"]),   # tv
        ("2", 5, "T", ["C"]),   # ti
        ("2", 6, "AT", ["A"]),  # indel: excluded
        ("2", 7, "A", ["G", "T"]),  # multiallelic: excluded
        ("2", 8, "N", ["A"]),   # non-ACGT: excluded
    ]
    df = spark.createDataFrame(
        rows, "chrom string, pos int, ref string, alt array<string>")
    total = titv(df).collect()[0]
    assert (total.n_ti, total.n_tv) == (3, 2)
    assert total.titv == pytest.approx(1.5)
    per = {r.chrom: (r.n_ti, r.n_tv) for r in titv(df, by=("chrom",)).collect()}
    assert per == {"1": (2, 2), "2": (1, 0)}
