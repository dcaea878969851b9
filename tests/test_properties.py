"""Property-based tests (hypothesis) for the pure-Python layers — region
grammar round-trips, coordinate shifts, rANS codec — plus seeded-random
batch checks for the Catalyst expression functions (one Spark collect per
property, not per example)."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

import pyarrow as pa

from oxbow_spark.coords import Region, merge_regions, region_mask, start_offset
from oxbow_spark.sources.cram import rans4x8_decode
from tests.test_cram import _rans0_encode

NAMES = st.from_regex(r"chr[0-9XYM][0-9]?", fullmatch=True)


@given(NAMES, st.integers(0, 10**8), st.integers(1, 10**6))
def test_region_bracket_roundtrip(name, start, length):
    r = Region(name, start, start + length)
    r2 = Region.parse(str(r))
    assert (r2.name, r2.start, r2.end) == (r.name, r.start, r.end)


@given(NAMES, st.integers(1, 10**8), st.integers(1, 10**6))
def test_region_ucsc_vs_bracket(name, start1, length):
    """UCSC 1-based closed `chr:s-e` ≡ bracket `chr:[s,e]` ≡ half-open
    `chr:[s-1,e)` — all three spellings parse to the same region."""
    end1 = start1 + length - 1
    a = Region.parse(f"{name}:{start1}-{end1}", "11")
    b = Region.parse(f"{name}:[{start1},{end1}]")
    c = Region.parse(f"{name}:[{start1 - 1},{end1})")
    assert (a.start, a.end) == (b.start, b.end) == (c.start, c.end)


@given(NAMES, st.integers(1, 10**8), st.integers(1, 10**6))
def test_region_thousands_separators(name, start1, length):
    end1 = start1 + length - 1

    def sep(n: int) -> str:
        return f"{n:,}"

    a = Region.parse(f"{name}:{sep(start1)}-{sep(end1)}", "11")
    b = Region.parse(f"{name}:{start1}-{end1}", "11")
    assert (a.start, a.end) == (b.start, b.end)


@given(st.integers(0, 10**9))
def test_start_offset_roundtrip(pos):
    there = pos + start_offset("11", "01")
    back = there + start_offset("01", "11")
    assert back == pos
    assert start_offset("11", "11") == start_offset("01", "01") == 0


@given(NAMES, st.integers(0, 1000), st.integers(1, 100),
       st.integers(0, 1200), st.integers(1, 100))
def test_region_overlap_is_interval_intersection(name, s1, l1, s2, l2):
    r = Region(name, s1, s1 + l1)
    got = r.overlaps(s2, s2 + l2)
    expect = max(s1, s2) < min(s1 + l1, s2 + l2)
    assert got == expect


QUERY_REGIONS = st.lists(st.one_of(
    st.just(Region("*")),
    st.builds(lambda name, s, length: Region(name, s, None if length is None else s + length),
              st.sampled_from(["chr1", "chr2"]), st.integers(0, 300),
              st.none() | st.integers(0, 200)),
), max_size=4)
RECORDS = st.lists(st.tuples(
    st.sampled_from(["chr1", "chr2", "chr3", None]),
    st.none() | st.integers(0, 400), st.none() | st.integers(0, 400)),
    max_size=30)


@settings(deadline=None)
@given(QUERY_REGIONS, RECORDS, st.booleans())
def test_region_mask_matches_scalar_overlaps(regions, records, arrow):
    """`region_mask` ≡ the scalar rule record by record: a null chrom
    matches only '*', a null start no named region, a null end means
    start + 1, and the union is the same merged or not."""
    def scalar(chrom, s0, e0):
        if chrom is None:
            return any(r.is_unmapped for r in regions)
        return s0 is not None and any(
            r.name == chrom and r.overlaps(s0, s0 + 1 if e0 is None else e0)
            for r in regions)

    cols = [[rec[i] for rec in records] for i in range(3)]
    if arrow:
        cols = [pa.array(cols[0], pa.string()),
                pa.array(cols[1], pa.int32()), pa.array(cols[2], pa.int32())]
    expect = [scalar(*rec) for rec in records]
    assert region_mask(regions, *cols).tolist() == expect
    assert region_mask(merge_regions(regions), *cols).tolist() == expect


def test_region_mask_empty_batch():
    assert region_mask([Region("chr1"), Region("*")], [], [], []).tolist() == []
    assert region_mask([], ["chr1"], [0], [None]).tolist() == [False]


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=1, max_size=2000))
def test_rans4x8_roundtrip_random(data):
    assert rans4x8_decode(_rans0_encode(data)) == data


def test_cigar_functions_random_batch(spark):
    """Random CIGARs: expression-level ops/reflen/qlen/end agree with a
    direct Python evaluation (single batch, one collect)."""
    from pyspark.sql import functions as F

    from oxbow_spark.functions import genomics as G

    rng = random.Random(7)
    ref_ops, query_ops = set("MDN=X"), set("MIS=X")
    rows = []
    for i in range(300):
        n = rng.randint(1, 8)
        cig = "".join(
            f"{rng.randint(1, 99)}{rng.choice('MIDNSHP=X')}" for _ in range(n)
        )
        rows.append((i, rng.randint(1, 10**6), cig))
    df = spark.createDataFrame(rows, ["i", "pos", "cigar"]).select(
        "i", "pos", "cigar",
        G.cigar_reflen("cigar").alias("rl"),
        G.cigar_qlen("cigar").alias("ql"),
        G.alignment_end("pos", "cigar").alias("e"),
    )
    import re

    for r in df.collect():
        ops = [(int(m[0]), m[1]) for m in re.findall(r"(\d+)([MIDNSHP=X])", r.cigar)]
        rl = sum(n for n, o in ops if o in ref_ops)
        ql = sum(n for n, o in ops if o in query_ops)
        assert r.rl == rl and r.ql == ql, r.cigar
        assert r.e == r.pos + rl - 1


def test_phred_roundtrip_random_batch(spark):
    from oxbow_spark.functions import genomics as G

    rng = random.Random(11)
    rows = [(i, [rng.randint(0, 93) for _ in range(rng.randint(1, 80))])
            for i in range(200)]
    df = spark.createDataFrame(rows, ["i", "scores"]).select(
        "i", "scores",
        G.phred_to_scores(G.scores_to_phred("scores")).alias("rt"),
    )
    for r in df.collect():
        assert list(r.rt) == list(r.scores)


def test_repetition_metrics_random_batch(spark):
    """repetition_stats ≡ a pure-Python reference on seeded random docs
    (one collect for the whole batch)."""
    from collections import Counter

    from oxbow_spark.operators.text import repetition_stats

    rng = random.Random(77)
    vocab = ["a", "bb", "ccc", "dd", "e", "ffff", "g"]
    docs = []
    for i in range(200):
        n = rng.randint(1, 40)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, text in docs:
        t = text.split(" ")
        tot = sum(len(x) for x in t)
        top_tok = max(c * len(w) for w, c in Counter(t).items())
        bg = [" ".join(p) for p in zip(t, t[1:])]
        top_2g = max(
            (c * (len(g) - 1) for g, c in Counter(bg).items()), default=0)
        r = got[i]
        assert r["n_tokens"] == len(t)
        assert abs(r["dup_token_frac"] - (len(t) - len(set(t))) / len(t)) < 1e-12
        assert abs(r["top_token_frac"] - min(1.0, top_tok / max(tot, 1))) < 1e-12
        assert abs(r["top_2gram_frac"] - min(1.0, top_2g / max(tot, 1))) < 1e-12


def test_resample_mixture_monotone_in_rate(spark):
    """The kept set at rate r1 is a subset of the kept set at r2 >= r1
    (same hash stream, threshold comparison) — retuning a domain's rate
    only adds/removes the marginal docs, never reshuffles."""
    from oxbow_spark.operators.pipeline import resample_mixture

    df = spark.createDataFrame(
        [(i, "web") for i in range(1000)], "doc_id long, source string")
    kept = {}
    for r in (0.2, 0.5, 0.8):
        kept[r] = {x.doc_id for x in
                   resample_mixture(df, {"web": r}).collect()}
    assert kept[0.2] <= kept[0.5] <= kept[0.8]
    assert len(kept[0.2]) < len(kept[0.5]) < len(kept[0.8])


def test_bm25_matches_python_reference(spark):
    """bm25_topk ≡ a straightforward Python Okapi+ implementation on a
    seeded random corpus (scores compared to the operator's 1e-6
    decimal quantization)."""
    import math as _m

    from oxbow_spark.operators.text import bm25_topk

    rng = random.Random(5)
    vocab = ["apple", "banana", "cherry", "date", "elder", "fig"]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
            for i in range(60)]
    terms, k1, b = ["apple", "cherry"], 1.2, 0.75
    dls = {i: len(t.split()) for i, t in docs}
    n, avgdl = len(docs), sum(dls.values()) / len(docs)
    dfreq = {q: sum(1 for _, t in docs if q in t.split()) for q in terms}
    expect = {}
    for i, t in docs:
        toks = t.split()
        s = 0.0
        for q in terms:
            tf = toks.count(q)
            if not tf:
                continue
            idf = _m.log((n - dfreq[q] + 0.5) / (dfreq[q] + 0.5) + 1.0)
            c = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl))
            s += _m.floor(c * 10**6 + 0.5) / 10**6  # decimal(28,6) quantize
        if s:
            expect[i] = s
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = [(r.doc_id, r.score) for r in bm25_topk(df, terms, k=10).collect()]
    assert [i for i, _ in got] == [i for i, _ in top]
    for (gi, gs), (ei, es) in zip(got, top):
        assert abs(gs - es) < 1e-6, (gi, gs, es)
