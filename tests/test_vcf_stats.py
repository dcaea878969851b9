"""bcftools-stats SN panel (`operators/vcf_stats.py`)."""

from __future__ import annotations

import pytest

from tests.corpus import fixtures_dir

FIX = fixtures_dir()


def test_variant_stats_random_vs_python(spark):
    """SN counters vs a brute-force python twin over random variants
    covering every class: SNP ts/tv, MNP, ins/del, multiallelic (pure
    SNP and mixed), symbolic, no-ALT, and a site that is SNP+indel at
    once."""
    import random

    from oxbow_spark.operators.vcf_stats import variant_stats

    rng = random.Random(29)
    bases = "ACGT"
    rows = []
    for i in range(600):
        kind = rng.randrange(8)
        ref = rng.choice(bases)
        if kind == 0:        # ts snp
            alt = [{"A": "G", "G": "A", "C": "T", "T": "C"}[ref]]
        elif kind == 1:      # tv snp
            alt = [{"A": "C", "G": "T", "C": "A", "T": "G"}[ref]]
        elif kind == 2:      # ins
            alt = [ref + "TT"]
        elif kind == 3:      # del
            ref = ref + "AC"
            alt = [ref[0]]
        elif kind == 4:      # mnp
            ref = "AT"
            alt = ["GC"]
        elif kind == 5:      # multiallelic (snp+snp or snp+ins)
            alt = (["G", "T"] if ref == "A" else ["A", ref + "GG"])
        elif kind == 6:      # symbolic
            alt = ["<DEL>"]
        else:                # no-alt
            alt = []
        rows.append((ref, alt))
    df = spark.createDataFrame(rows, "ref string, alt array<string>")
    r = variant_stats(df).collect()[0]

    TS = {("A", "G"), ("G", "A"), ("C", "T"), ("T", "C")}

    def sym(a):
        return "<" in a or "*" in a

    def snp(ref, a):
        return len(ref) == 1 and len(a) == 1 and not sym(a) and a != ref

    exp = dict(n_records=len(rows), n_no_alts=0, n_snp_sites=0,
               n_mnp_sites=0, n_indel_sites=0, n_other_sites=0,
               n_multiallelic_sites=0, n_multiallelic_snp_sites=0,
               n_transitions=0, n_transversions=0, n_ins_alleles=0,
               n_del_alleles=0)
    for ref, alts in rows:
        if not alts:
            exp["n_no_alts"] += 1
        if len(alts) > 1:
            exp["n_multiallelic_sites"] += 1
            if all(snp(ref, a) for a in alts):
                exp["n_multiallelic_snp_sites"] += 1
        if any(snp(ref, a) for a in alts):
            exp["n_snp_sites"] += 1
        if any(not sym(a) and len(a) == len(ref) > 1 for a in alts):
            exp["n_mnp_sites"] += 1
        if any(not sym(a) and len(a) != len(ref) for a in alts):
            exp["n_indel_sites"] += 1
        if any(sym(a) for a in alts):
            exp["n_other_sites"] += 1
        for a in alts:
            if snp(ref, a):
                if (ref, a) in TS:
                    exp["n_transitions"] += 1
                else:
                    exp["n_transversions"] += 1
            if not sym(a) and len(a) > len(ref):
                exp["n_ins_alleles"] += 1
            if not sym(a) and len(a) < len(ref):
                exp["n_del_alleles"] += 1
    for k, v in exp.items():
        assert getattr(r, k) == v, (k, getattr(r, k), v)
    assert r.ts_tv == exp["n_transitions"] / exp["n_transversions"]


def test_variant_stats_on_vcf_fixture(spark):
    """The scanner's (ref, alt) columns feed straight in; spot-check
    against a per-row recount of the real fixture."""
    from oxbow_spark.operators.vcf_stats import variant_stats
    from oxbow_spark.sources import register_all

    register_all(spark)
    df = spark.read.format("vcf").load(f"{FIX}/sample.vcf")
    assert {"ref", "alt"} <= set(df.columns)
    r = variant_stats(df).collect()[0]
    rows = [(x.ref, list(x.alt or [])) for x in
            df.select("ref", "alt").collect()]
    assert r.n_records == len(rows)
    n_snp = sum(1 for ref, alts in rows
                if any(len(ref) == 1 and len(a) == 1 and a != ref
                       and "<" not in a and "*" not in a for a in alts))
    assert r.n_snp_sites == n_snp


def test_variant_stats_comma_string_alt(spark):
    from oxbow_spark.operators.vcf_stats import variant_stats

    df = spark.createDataFrame(
        [("A", "G,T"), ("C", "T"), ("G", ".")],
        "ref string, alt string")
    r = variant_stats(df).collect()[0]
    assert (r.n_records, r.n_multiallelic_sites, r.n_no_alts) == (3, 1, 1)
    assert r.n_transitions == 2 and r.n_transversions == 1
    assert r.ts_tv == pytest.approx(2.0)


def test_variant_isec_hand_case(spark):
    from oxbow_spark.operators.vcf_stats import (variant_isec,
                                                 variant_isec_summary)

    a = spark.createDataFrame(
        [("chr1", 100, "A", "G"), ("chr1", 100, "A", "G"),  # dup collapses
         ("chr1", 200, "C", "T"), ("chr2", 50, "G", "GA")],
        "chrom string, pos long, ref string, alt string")
    b = spark.createDataFrame(
        [("chr1", 100, "A", "G"),            # shared
         ("chr1", 200, "C", "A"),            # same pos, different alt
         ("chr3", 10, "T", "C")],
        "chrom string, pos long, ref string, alt string")
    got = {(r.chrom, r.pos, r.ref, r.alt): r.category
           for r in variant_isec(a, b).collect()}
    assert got == {
        ("chr1", 100, "A", "G"): "both",
        ("chr1", 200, "C", "T"): "a_only",
        ("chr2", 50, "G", "GA"): "a_only",
        ("chr1", 200, "C", "A"): "b_only",
        ("chr3", 10, "T", "C"): "b_only",
    }
    s = variant_isec_summary(a, b).collect()[0]
    assert (s.n_a, s.n_b, s.n_both, s.n_a_only, s.n_b_only) == (3, 3, 1, 2, 2)


def test_variant_isec_random_vs_python(spark):
    import random

    from oxbow_spark.operators.vcf_stats import variant_isec

    rng = random.Random(83)

    def mk(n):
        return [(f"chr{rng.randrange(3)}", rng.randrange(40),
                 rng.choice("ACGT"), rng.choice(["A", "T", "GG"]))
                for _ in range(n)]

    ra, rb = mk(120), mk(90)
    a = spark.createDataFrame(
        ra, "chrom string, pos long, ref string, alt string")
    b = spark.createDataFrame(
        rb, "chrom string, pos long, ref string, alt string")
    sa, sb = set(ra), set(rb)
    expect = {k: ("both" if k in sb else "a_only") for k in sa}
    expect.update({k: "b_only" for k in sb - sa})
    got = {(r.chrom, r.pos, r.ref, r.alt): r.category
           for r in variant_isec(a, b).collect()}
    assert got == expect


def test_merge_callsets_hand_case(spark):
    from oxbow_spark.operators.vcf_stats import merge_callsets

    s1 = spark.createDataFrame(
        [("chr1", 100, "A", "G", "0/1"),
         ("chr1", 100, "A", "G", "0/0"),   # dup key: min gt wins
         ("chr1", 200, "C", "T", "1/1")],
        "chrom string, pos long, ref string, alt string, gt string")
    s2 = spark.createDataFrame(
        [("chr1", 100, "A", "G", "1/1"),
         ("chr2", 5, "G", "GA", "0/1")],
        "chrom string, pos long, ref string, alt string, gt string")
    s3 = spark.createDataFrame(
        [("chr1", 200, "C", "T", "0/1")],
        "chrom string, pos long, ref string, alt string, gt string")
    out = {(r.chrom, r.pos, r.ref, r.alt):
           (dict(r.gts), r.n_called, r.samples)
           for r in merge_callsets({"a": s1, "b": s2, "c": s3}).collect()}
    assert out == {
        ("chr1", 100, "A", "G"): ({"a": "0/0", "b": "1/1"}, 2, "a,b"),
        ("chr1", 200, "C", "T"): ({"a": "1/1", "c": "0/1"}, 2, "a,c"),
        ("chr2", 5, "G", "GA"): ({"b": "0/1"}, 1, "b"),
    }


def test_merge_callsets_random_vs_python(spark):
    import random

    from oxbow_spark.operators.vcf_stats import merge_callsets

    rng = random.Random(91)
    sets, py = {}, {}
    for lab in ("s0", "s1", "s2", "s3"):
        rows = [(f"chr{rng.randrange(2)}", rng.randrange(25),
                 "A", "G", rng.choice(["0/0", "0/1", "1/1"]))
                for _ in range(60)]
        sets[lab] = spark.createDataFrame(
            rows,
            "chrom string, pos long, ref string, alt string, gt string")
        for ch, pos, ref, alt, gt in rows:
            k = (ch, pos, ref, alt)
            cur = py.setdefault(k, {})
            cur[lab] = min(cur.get(lab, gt), gt)
    got = {(r.chrom, r.pos, r.ref, r.alt):
           (dict(r.gts), r.n_called, r.samples)
           for r in merge_callsets(sets).collect()}
    expect = {k: (v, len(v), ",".join(sorted(v)))
              for k, v in py.items()}
    assert got == expect
