"""Pileup operator vs a brute-force Python CIGAR walk — hand cases,
randomized records, and the real BAM fixture."""

from __future__ import annotations

import re

import pytest

from oxbow_spark.operators.pileup import (
    consensus,
    naive_snv,
    pileup,
    ref_bases_frame,
)
from tests.corpus import fixtures_dir

_CIG = re.compile(r"(\d+)([MIDNSHP=X])")


def _py_pileup(rows):
    out: dict[tuple, dict] = {}
    for rname, pos, cigar, seq in rows:
        if cigar is None or seq is None:
            continue
        seq = seq.upper()
        q = 0
        r = 0
        for ln, op in ((int(a), o) for a, o in _CIG.findall(cigar)):
            if op in "M=X":
                for i in range(ln):
                    k = (rname, pos + r + i)
                    d = out.setdefault(k, dict(a=0, c=0, g=0, t=0, n=0,
                                               dl=0, dp=0))
                    ch = seq[q + i] if q + i < len(seq) else "N"
                    if ch in "ACGT":
                        d[ch.lower()] += 1
                    else:
                        d["n"] += 1
                    d["dp"] += 1
                q += ln
                r += ln
            elif op == "D":
                for i in range(ln):
                    k = (rname, pos + r + i)
                    d = out.setdefault(k, dict(a=0, c=0, g=0, t=0, n=0,
                                               dl=0, dp=0))
                    d["dl"] += 1
                    d["dp"] += 1
                r += ln
            elif op == "N":
                r += ln
            elif op in "IS":
                q += ln
    return {
        k: (d["a"], d["c"], d["g"], d["t"], d["n"], d["dl"], d["dp"])
        for k, d in out.items()
    }


def _spark_pileup(spark, rows):
    df = spark.createDataFrame(
        rows, "rname string, pos long, cigar string, seq string")
    return {
        (r.rname, r.refpos): (r.n_a, r.n_c, r.n_g, r.n_t, r.n_n,
                              r.n_del, r.depth)
        for r in pileup(df).collect()
    }


def test_pileup_hand_case(spark):
    rows = [
        ("chr1", 10, "5M", "ACGTA"),
        ("chr1", 12, "2M2D3M", "GGTTT"),     # del spans 14-15
        ("chr1", 11, "2S3M", "NNACG"),       # soft clip consumes read only
        ("chr1", 20, "2M3N2M", "ACGT"),      # intron skip: nothing at 22-24
        ("chr1", 30, "1M1I2M", "AGCT"),      # insertion consumes read only
        ("chr2", 5, "3M", "acg"),            # lowercase upcases
        ("chr1", 40, None, "AAAA"),          # unmapped: skipped
        ("chr1", 41, "4M", None),            # seq-less: skipped
    ]
    got = _spark_pileup(spark, rows)
    want = _py_pileup(rows)
    assert got == want
    # spot checks
    assert got[("chr1", 10)] == (1, 0, 0, 0, 0, 0, 1)
    assert got[("chr1", 14)][5] == 1          # deletion counted
    assert ("chr1", 22) not in got            # N-skip leaves a hole
    assert got[("chr2", 5)] == (1, 0, 0, 0, 0, 0, 1)


def test_pileup_random(spark):
    import random

    rng = random.Random(23)
    ops = "MIDNS"
    rows = []
    for i in range(300):
        pos = rng.randrange(1, 500)
        cig = []
        q_len = 0
        for _ in range(rng.randrange(1, 5)):
            ln = rng.randrange(1, 6)
            op = rng.choice(ops)
            cig.append(f"{ln}{op}")
            if op in "MIS":
                q_len += ln
        seq = "".join(rng.choice("ACGTN") for _ in range(q_len))
        rows.append((f"c{i % 3}", pos, "".join(cig), seq))
    assert _spark_pileup(spark, rows) == _py_pileup(rows)


def test_pileup_op_dense_cigar_crosses_chunks(spark):
    """Op counts straddling the chunked segs fold's boundary
    (_SEG_CHUNK=64): running q/r offsets must carry exactly across
    chunks — exercised at 1, 63, 64, 65, 130 and 200 ops, mixed
    consuming/non-consuming ops, vs the python walk."""
    import random

    rng = random.Random(41)
    rows = []
    for n_ops in (1, 63, 64, 65, 130, 200):
        pos = rng.randrange(1, 100)
        cig, q_len = [], 0
        for _ in range(n_ops):
            ln = rng.randrange(1, 4)
            op = rng.choice("MIDNSM=X")  # M-weighted
            cig.append(f"{ln}{op}")
            if op in "MIS=X":
                q_len += ln
        seq = "".join(rng.choice("ACGTN") for _ in range(q_len))
        rows.append((f"n{n_ops}", pos, "".join(cig), seq))
    assert _spark_pileup(spark, rows) == _py_pileup(rows)


def test_pileup_on_bam_fixture(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    df = spark.read.format("bam").load(
        f"{fixtures_dir()}/sample.bam")
    rows = [(r.rname, r.pos, r.cigar, r.seq)
            for r in df.select("rname", "pos", "cigar", "seq").collect()
            if r.rname is not None]
    sub = spark.createDataFrame(
        rows, "rname string, pos long, cigar string, seq string")
    got = {
        (r.rname, r.refpos): (r.n_a, r.n_c, r.n_g, r.n_t, r.n_n,
                              r.n_del, r.depth)
        for r in pileup(sub).collect()
    }
    assert got == _py_pileup(rows)
    assert len(got) > 100


def test_pileup_plan_partial_agg_no_join(spark):
    df = spark.createDataFrame(
        [("c", 1, "3M", "ACG")], "rname string, pos long, cigar string, seq string")
    plan = pileup(df)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_consensus_and_naive_snv(spark):
    rows = [
        # chr1:10-14 reads: mostly A at 10, split C/T at 11, low cov at 12
        ("chr1", 10, "2M", "AC"), ("chr1", 10, "2M", "AT"),
        ("chr1", 10, "2M", "AC"), ("chr1", 10, "2M", "AT"),
        ("chr1", 12, "1M", "G"),
    ]
    df = spark.createDataFrame(
        rows, "rname string, pos long, cigar string, seq string")
    pile = pileup(df)
    cons = {(r.rname, r.refpos): r for r in consensus(
        pile, min_depth=2, min_frac=0.5).collect()}
    assert cons[("chr1", 10)].consensus == "A"
    assert cons[("chr1", 10)].support == 4
    # 11: C=2 T=2 tie -> C (A<C<G<T order), frac 0.5 passes
    assert cons[("chr1", 11)].consensus == "C"
    # 12: depth 1 < min_depth -> N
    assert cons[("chr1", 12)].consensus == "N"

    ref = spark.createDataFrame(
        [("chr1", 10, "A"), ("chr1", 11, "C"), ("chr1", 12, "G")],
        "rname string, refpos long, ref_base string")
    snv = {(r.rname, r.refpos): r for r in naive_snv(
        pile, ref, min_depth=2, min_alt_frac=0.4).collect()}
    # 10 is hom-ref (no alt); 11 has T at 0.5 vs ref C; 12 under depth
    assert ("chr1", 10) not in snv
    assert snv[("chr1", 11)].alt == "T" and snv[("chr1", 11)].alt_count == 2
    assert ("chr1", 12) not in snv


def test_ref_bases_frame_and_end_to_end_fasta(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    fa = spark.read.format("fasta").load(
        f"{fixtures_dir()}/sample.fasta")
    ref = ref_bases_frame(fa)
    one = {r.refpos: r.ref_base
           for r in ref.where(ref.rname == ref.first().rname)
           .orderBy("refpos").limit(5).collect()}
    seqs = {r.name: r.sequence for r in fa.collect()}
    nm = sorted(seqs)[0] if False else ref.first().rname
    assert "".join(one[i] for i in sorted(one)) == seqs[nm][:5].upper()


def test_pileup_mean_base_quality(spark):
    rows = [
        ("chr1", 10, "3M", "ACG", "!#%"),   # phred 0, 2, 4
        ("chr1", 11, "2M", "CC", "++"),     # phred 10, 10 at 11-12
        ("chr1", 20, "1M1D1M", "AT", "5#"), # del at 21 carries no bq
        ("chr1", 30, "2M", "GG", None),     # null qual: bases, no bq
    ]
    df = spark.createDataFrame(
        rows, "rname string, pos long, cigar string, seq string, qual string")
    got = {r.refpos: r for r in pileup(df, qual_col="qual").collect()}
    assert got[10].mean_bq == pytest.approx(0.0)
    assert got[11].mean_bq == pytest.approx((2 + 10) / 2)
    assert got[12].mean_bq == pytest.approx((4 + 10) / 2)
    assert got[21].mean_bq is None and got[21].n_del == 1
    assert got[22].mean_bq == pytest.approx(2.0)  # '#' on the M after D
    assert got[30].mean_bq is None and got[30].n_g == 1
    # without qual_col the schema is unchanged
    assert "mean_bq" not in pileup(df).columns


def test_pileup_qual_random(spark):
    """Random CIGARs with random quals: mean_bq must match the Python
    walk exactly (counts already covered by test_pileup_random)."""
    import random

    rng = random.Random(31)
    rows = []
    for i in range(150):
        pos = rng.randrange(1, 300)
        cig = []
        q_len = 0
        for _ in range(rng.randrange(1, 4)):
            ln = rng.randrange(1, 5)
            op = rng.choice("MIDNS")
            cig.append(f"{ln}{op}")
            if op in "MIS":
                q_len += ln
        seq = "".join(rng.choice("ACGT") for _ in range(q_len))
        qual = ("".join(chr(33 + rng.randrange(0, 42)) for _ in range(q_len))
                if rng.random() < 0.8 else None)
        rows.append((f"c{i % 2}", pos, "".join(cig), seq, qual))
    df = spark.createDataFrame(
        rows, "rname string, pos long, cigar string, seq string, qual string")
    got = {(r.rname, r.refpos): (r.depth, r.mean_bq)
           for r in pileup(df, qual_col="qual").collect()}
    # python reference for mean_bq
    import re as _re
    acc: dict[tuple, list] = {}
    for rname, pos, cigar, seq, qual in rows:
        q = r = 0
        for ln, op in ((int(a), o) for a, o in _re.findall(
                r"(\d+)([MIDNS])", cigar)):
            if op == "M":
                for i2 in range(ln):
                    k = (rname, pos + r + i2)
                    acc.setdefault(k, [])
                    if qual is not None:
                        acc[k].append(ord(qual[q + i2]) - 33)
                q += ln
                r += ln
            elif op == "D":
                r += ln
            elif op == "N":
                r += ln
            elif op in "IS":
                q += ln
    for k, (depth, mean_bq) in got.items():
        vals = acc.get(k, [])
        if vals:
            assert mean_bq == pytest.approx(
                round(sum(vals) / len(vals), 6), abs=1e-6), k


def _py_pileup_ext(rows, min_bq=0, insertions=False):
    """Brute-force walk extended for strand split, insertion anchors and
    the -Q base-quality gate (rows: rname,pos,cigar,seq,qual,flag)."""
    out: dict[tuple, dict] = {}

    def cell(k):
        return out.setdefault(k, dict(a=0, c=0, g=0, t=0, n=0, dl=0, dp=0,
                                      fwd=0, rev=0, ins=0))

    for rname, pos, cigar, seq, qual, flag in rows:
        if cigar is None or seq is None:
            continue
        seq = seq.upper()
        rev = bool(flag & 16)
        q = r = 0
        for ln, op in ((int(a), o) for a, o in _CIG.findall(cigar)):
            if op in "M=X":
                for i in range(ln):
                    bq = (ord(qual[q + i]) - 33) if qual is not None else None
                    if min_bq > 0 and bq is not None and bq < min_bq:
                        continue
                    d = cell((rname, pos + r + i))
                    ch = seq[q + i] if q + i < len(seq) else "N"
                    d[ch.lower() if ch in "ACGT" else "n"] += 1
                    d["dp"] += 1
                    d["rev" if rev else "fwd"] += 1
                q += ln
                r += ln
            elif op == "D":
                for i in range(ln):
                    d = cell((rname, pos + r + i))
                    d["dl"] += 1
                    d["dp"] += 1
                    d["rev" if rev else "fwd"] += 1
                r += ln
            elif op == "N":
                r += ln
            elif op == "I":
                if insertions and r > 0:
                    cell((rname, pos + r - 1))["ins"] += 1
                q += ln
            elif op == "S":
                q += ln
    return {
        k: (d["a"], d["c"], d["g"], d["t"], d["n"], d["dl"], d["dp"],
            d["fwd"], d["rev"], d["ins"])
        for k, d in out.items() if d["dp"] > 0 or d["ins"] > 0
    }


def test_pileup_insertions_strand_minbq_hand(spark):
    rows = [
        # fwd read, insertion of 2 after the base at 11
        ("chr1", 10, "2M2I1M", "ACGGT", "IIIII", 0),
        # rev read overlapping
        ("chr1", 10, "3M", "ACT", "III", 16),
        # leading insertion: no anchor, skipped
        ("chr1", 20, "2I2M", "GGAA", "IIII", 0),
        # low-qual base gated out at 30 ('!'=phred0), kept at 31
        ("chr1", 30, "2M", "CC", "!I", 0),
    ]
    df = spark.createDataFrame(
        rows, "rname string, pos long, cigar string, seq string, "
              "qual string, flag int")
    got = {(r.rname, r.refpos):
           (r.n_a, r.n_c, r.n_g, r.n_t, r.n_n, r.n_del, r.depth,
            r.depth_fwd, r.depth_rev, r.n_ins)
           for r in pileup(df, qual_col="qual", flag_col="flag",
                           min_bq=13, insertions=True).collect()}
    assert got == _py_pileup_ext(rows, min_bq=13, insertions=True)
    assert got[("chr1", 11)][9] == 1            # n_ins anchored at 11
    assert ("chr1", 19) not in got              # leading I has no anchor
    assert got[("chr1", 20)][6] == 1            # 2I2M: M starts at 20
    assert ("chr1", 30) not in got              # '!' gated by -Q 13
    assert got[("chr1", 31)][1] == 1            # 'I'=phred40 passes
    assert got[("chr1", 10)][7:9] == (1, 1)     # one fwd, one rev


def test_pileup_ext_random(spark):
    """Randomized CIGAR/qual/strand records vs the extended walk, at
    samtools' default -Q 13 and with insertion anchoring."""
    import random

    rng = random.Random(47)
    rows = []
    for i in range(250):
        pos = rng.randrange(1, 400)
        cig = []
        q_len = 0
        for _ in range(rng.randrange(1, 5)):
            ln = rng.randrange(1, 6)
            op = rng.choice("MIDNSIM")  # I/M twice: denser ins coverage
            cig.append(f"{ln}{op}")
            if op in "MIS":
                q_len += ln
        seq = "".join(rng.choice("ACGTN") for _ in range(q_len))
        qual = ("".join(chr(33 + rng.randrange(0, 42)) for _ in range(q_len))
                if rng.random() < 0.85 else None)
        flag = rng.choice((0, 16))
        rows.append((f"c{i % 3}", pos, "".join(cig), seq, qual, flag))
    df = spark.createDataFrame(
        rows, "rname string, pos long, cigar string, seq string, "
              "qual string, flag int")
    got = {(r.rname, r.refpos):
           (r.n_a, r.n_c, r.n_g, r.n_t, r.n_n, r.n_del, r.depth,
            r.depth_fwd, r.depth_rev, r.n_ins)
           for r in pileup(df, qual_col="qual", flag_col="flag",
                           min_bq=13, insertions=True).collect()}
    assert got == _py_pileup_ext(rows, min_bq=13, insertions=True)
    # and with the gate off + no insertions, the legacy columns and
    # values are unchanged vs the original walk
    legacy = {(r.rname, r.refpos): (r.n_a, r.n_c, r.n_g, r.n_t, r.n_n,
                                    r.n_del, r.depth)
              for r in pileup(df).collect()}
    assert legacy == _py_pileup([(a, b, c, d) for a, b, c, d, _q, _f in rows])


def test_pileup_minbq_requires_qual(spark):
    df = spark.createDataFrame(
        [("c", 1, "1M", "A")], "rname string, pos long, cigar string, seq string")
    with pytest.raises(ValueError, match="qual_col"):
        pileup(df, min_bq=13)
