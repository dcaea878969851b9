"""Nucleotide composition: Python-recount ground truth over the real
FASTA fixture, windowed GC tracks, case folding, N handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oxbow_spark.operators.nuc import gc_windows, nuc_stats
from tests.corpus import fixtures_dir

FIX = fixtures_dir()


@pytest.fixture(scope="module")
def fasta(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark.read.format("fasta").load(f"{FIX}/sample.fasta").cache()


def test_nuc_stats_matches_python(fasta):
    truth = {r.name: r.sequence.upper() for r in fasta.collect()}
    assert truth
    got = {r.name: r for r in nuc_stats(fasta, id_cols=["name"]).collect()}
    for name, seq in truth.items():
        r = got[name]
        assert r.length == len(seq)
        for base, col in (("A", r.n_a), ("C", r.n_c), ("G", r.n_g),
                          ("T", r.n_t), ("N", r.n_n)):
            assert col == seq.count(base), (name, base)
        called = sum(seq.count(b) for b in "ACGT")
        gc = (seq.count("G") + seq.count("C")) / max(called, 1)
        assert r.gc_frac == pytest.approx(gc)


def test_nuc_stats_case_and_other(spark):
    df = spark.createDataFrame([("x", "acgTN-ryACGT")], "name string, sequence string")
    r = nuc_stats(df).collect()[0]
    assert (r.n_a, r.n_c, r.n_g, r.n_t, r.n_n) == (2, 2, 2, 2, 1)
    assert r.n_other == 3  # '-', 'R', 'Y'
    assert r.gc_frac == pytest.approx(4 / 8)


def test_gc_windows_tumbling_and_sliding(spark):
    seq = "GGGGAAAATTTTCCCC"  # 16 bp: windows of 4 -> 1.0, 0.0, 0.0, 1.0
    df = spark.createDataFrame([("x", seq)], "name string, sequence string")
    got = {r.win_start: r for r in gc_windows(df, window=4).collect()}
    assert [got[i].gc_frac for i in (0, 4, 8, 12)] == [1.0, 0.0, 0.0, 1.0]
    assert all(got[i].win_len == 4 for i in (0, 4, 8, 12))
    # sliding with step 2: window at 2 is 'GGAA' -> 0.5
    sl = {r.win_start: r.gc_frac
          for r in gc_windows(df, window=4, step=2).collect()}
    assert sl[2] == pytest.approx(0.5)
    # final partial window keeps its true length
    got14 = [r for r in gc_windows(df, window=4, step=2).collect()
             if r.win_start == 14][0]
    assert got14.win_len == 2 and got14.gc_frac == pytest.approx(1.0)


def test_gc_windows_matches_python_on_fixture(fasta):
    truth = {r.name: r.sequence.upper() for r in fasta.collect()}
    got = gc_windows(fasta, window=10, step=5).collect()
    by_key = {(r.name, r.win_start): r.gc_frac for r in got}
    for name, seq in truth.items():
        for s in range(0, len(seq), 5):
            w = seq[s:s + 10]
            called = sum(w.count(b) for b in "ACGT")
            gc = (w.count("G") + w.count("C")) / max(called, 1)
            assert by_key[(name, s)] == pytest.approx(gc), (name, s)


def test_plan_no_shuffle(spark):
    # the narrow gc_windows leg and nuc_stats are shuffle-free; the
    # default (auto) plan adds a tiled leg for >plain_max_bp rows,
    # whose exchange is exercised only by long rows
    df = spark.createDataFrame([("x", "ACGT" * 10)], "name string, sequence string")
    for out in (nuc_stats(df), gc_windows(df, window=8, plain_max_bp=None)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_gc_windows_empty_sequence_yields_no_rows(spark):
    df = spark.createDataFrame(
        [("e", ""), ("x", "GGCC")], "name string, sequence string")
    rows = gc_windows(df, window=4).collect()
    # the zero-length sequence must not emit a bogus (0, 0, 0.0) window
    assert [r.name for r in rows] == ["x"]


def test_getfasta_intervals_vs_python(spark):
    """Tiled getfasta ≡ python slicing across tile widths (incl. tiles
    smaller than intervals and tile-edge-aligned bounds), with
    clipping, unknown-contig drops, duplicate rows preserved, and
    strand-aware reverse complement."""
    import random

    from oxbow_spark.operators.nuc import getfasta_intervals

    rng = random.Random(31)
    contigs = {"c1": "".join(rng.choice("ACGTN") for _ in range(997)),
               "c2": "".join(rng.choice("acgt") for _ in range(240))}
    seqs = spark.createDataFrame(list(contigs.items()),
                                 "name string, seq string")
    ivs = []
    for _ in range(60):
        c = rng.choice(["c1", "c2"])
        st = rng.randrange(0, len(contigs[c]))
        en = min(st + rng.randrange(1, 400), len(contigs[c]) + 50)
        ivs.append((c, st, en, rng.choice(["+", "-"])))
    ivs.append(("c1", 990, 1200, "+"))   # clips to contig end
    ivs.append(("c1", 10, 20, "-"))
    ivs.append(("c1", 10, 20, "-"))      # duplicate row preserved
    ivs.append(("cX", 0, 5, "+"))        # unknown contig: dropped
    ivs.append(("c2", 300, 310, "+"))    # fully past the end: dropped
    df = spark.createDataFrame(
        ivs, "chrom string, start long, end long, strand string")

    def rc(x):
        t = str.maketrans("ACGTacgtNn", "TGCAtgcaNn")
        return x.translate(t)[::-1]

    expect = sorted(
        (c, s, e, st, rc(contigs[c][s:e]) if st == "-"
         else contigs[c][s:e])
        for c, s, e, st in ivs
        if c in contigs and s < len(contigs[c]))
    for tile in (16, 250, 1 << 20, None):  # None = auto-sized
        got = sorted(
            (r.chrom, r.start, r.end, r.strand, r.iv_seq)
            for r in getfasta_intervals(
                df, seqs, strand_col="strand", tile_bp=tile).collect())
        assert got == expect, tile


def test_auto_tile_bp_follows_interval_length(spark):
    """Default tile_bp derives from the p90 interval length, clamped
    to [64 KiB, 4 MiB]: short intervals keep the measured 64 KiB
    optimum, Mb-scale intervals get ~interval-sized tiles without the
    caller hand-tuning, degenerate/empty inputs fall to the floor."""
    from oxbow_spark.operators.nuc import _auto_tile_bp

    def iv(lengths):
        return spark.createDataFrame(
            [(0, n) for n in lengths], "start long, end long")

    assert _auto_tile_bp(iv([100] * 50), "start", "end") == 1 << 16
    got = _auto_tile_bp(iv([1_000_000] * 50), "start", "end")
    assert got == 1_000_000
    assert _auto_tile_bp(iv([50_000_000] * 5), "start", "end") == 1 << 22
    assert _auto_tile_bp(iv([]), "start", "end") == 1 << 16
    # mixed: p90 tracks the bulk, one outlier doesn't blow the tile
    mixed = [1000] * 95 + [30_000_000] * 3
    assert _auto_tile_bp(iv(mixed), "start", "end") == 1 << 16


def test_maskfasta_intervals_vs_python(spark):
    """Tiled maskfasta ≡ python masking across tile widths: hard N
    masking and -soft lowercasing, overlapping/duplicate intervals,
    tile-spanning spans, clipping past the contig end, untouched
    contigs passing through byte-identical."""
    import random

    from oxbow_spark.operators.nuc import maskfasta_intervals

    rng = random.Random(37)
    contigs = {"c1": "".join(rng.choice("ACGT") for _ in range(700)),
               "c2": "".join(rng.choice("ACGT") for _ in range(130)),
               "c3": "".join(rng.choice("ACGT") for _ in range(90))}
    seqs = spark.createDataFrame(list(contigs.items()),
                                 "name string, seq string")
    ivs = [("c1", 10, 40), ("c1", 30, 120), ("c1", 119, 120),
           ("c1", 650, 800),                 # clips past the end
           ("c2", 0, 5), ("c2", 0, 5),       # duplicate
           ("cX", 0, 10)]                    # unknown contig: ignored
    for _ in range(25):
        c = rng.choice(["c1", "c2"])
        st = rng.randrange(0, len(contigs[c]))
        ivs.append((c, st, st + rng.randrange(1, 250)))
    df = spark.createDataFrame(ivs, "chrom string, start long, end long")

    def py_mask(soft):
        out = {}
        for name, s in contigs.items():
            arr = list(s)
            for c, st, en in ivs:
                if c != name:
                    continue
                for i in range(max(st, 0), min(en, len(arr))):
                    arr[i] = arr[i].lower() if soft else "N"
            out[name] = "".join(arr)
        return out

    for tile in (16, 128, 1 << 20):
        got = {r.name: r.seq for r in maskfasta_intervals(
            seqs, df, tile_bp=tile).collect()}
        assert got == py_mask(False), ("hard", tile)
        got_s = {r.name: r.seq for r in maskfasta_intervals(
            seqs, df, soft=True, tile_bp=tile).collect()}
        assert got_s == py_mask(True), ("soft", tile)


def test_translate_dna_vs_python(spark):
    import random

    from oxbow_spark.operators.nuc import _CODON, translate_dna

    rng = random.Random(41)
    rows = [("".join(rng.choice("ACGTN") for _ in range(rng.randrange(0, 40))),)
            for _ in range(200)]
    rows += [("ATGGCC TAA".replace(" ", ""),), ("atgtag",), ("AT",), ("",)]
    df = spark.createDataFrame(rows, "dna string")

    def py_tr(s, frame=0, to_stop=False):
        s = s.upper()
        out = []
        for i in range(frame, len(s) - 2, 3):
            c = s[i:i + 3]
            out.append(_CODON.get(c, "X") if set(c) <= set("ACGT")
                       else "X")
        p = "".join(out)
        if to_stop and "*" in p:
            p = p[:p.index("*")]
        return p

    for frame in (0, 1, 2):
        for to_stop in (False, True):
            got = [r[0] for r in df.select(
                translate_dna(F.col("dna"), frame=frame,
                              to_stop=to_stop)).collect()]
            want = [py_tr(s, frame, to_stop) for (s,) in rows]
            assert got == want, (frame, to_stop)


def test_gc_windows_tiled_equals_plain(spark):
    """`tile_bp=` (distributed contig path) ≡ plain narrow path ≡
    Python brute, across tile widths — including tiles SMALLER than
    the window (boundary-straddling windows whose counts must stitch
    across tiles) and sliding steps."""
    import random

    rng = random.Random(77)
    rows = []
    for i, ln in enumerate((1, 2, 37, 256, 1000)):
        seq = "".join(rng.choice("ACGTNacgtn") for _ in range(ln))
        rows.append((f"s{i}", seq))
    rows.append(("empty", ""))
    df = spark.createDataFrame(rows, "name string, sequence string")

    def brute(window, step):
        out = {}
        for name, seq in rows:
            u = seq.upper()
            for s in range(0, len(u), step):
                w = u[s:s + window]
                called = sum(w.count(b) for b in "ACGT")
                gc = (w.count("G") + w.count("C")) / max(called, 1)
                out[(name, s)] = (len(w), pytest.approx(gc))
        return out

    for window, step in ((10, 10), (10, 3), (64, 64), (7, 7)):
        expect = brute(window, step)
        plain = {(r.name, r.win_start): (r.win_len, r.gc_frac)
                 for r in gc_windows(df, window=window, step=step).collect()}
        assert plain == expect, (window, step)
        for tb in (4, 16, 1 << 20):  # tb < window forces stitching
            got = {(r.name, r.win_start): (r.win_len, r.gc_frac)
                   for r in gc_windows(df, window=window, step=step,
                                       tile_bp=tb).collect()}
            assert got == expect, (window, step, tb)


def test_gc_windows_plain_path_fully_codegen(spark):
    """Plan guard for the narrow path: scan→filter→project→Generate→
    count-project must fuse into ONE WholeStageCodegen stage, so the
    parent binary stays a JVM local and only the four small output
    columns ever materialize as row data. Any operator falling out of
    codegen (e.g. a higher-order function — HOFs are interpreted, and
    each lambda reference to an outer BINARY column pays a full
    UnsafeRow.getBinary copy per element) re-opens the O(n_win × len)
    copy bug measured at 41 s on a 3 Mbp contig in round 10."""
    df = spark.createDataFrame([("x", "ACGT" * 64)],
                               "name string, sequence string")
    plan = gc_windows(df, window=8, plain_max_bp=None)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # Generate and the downstream count Project carry the same
    # codegen-star marker and no non-codegen operator sits between
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    gen = [i for i, ln in enumerate(lines) if "Generate" in ln]
    assert gen and all(lines[i].lstrip("+- ").startswith("*")
                       for i in gen), plan
    # the final projection (counts) is codegen'd too
    assert lines[0].lstrip().startswith("*"), plan
    # no interpreted HOF over the sequence anywhere in the plan
    assert "transform(" not in plan, plan


def test_gc_windows_sliding_equals_plain(spark):
    """Bucket-decomposition sliding path ≡ plain brute force across
    divisible (window, step) pairs, through every routing (forced
    sliding over plain buckets, tiled buckets incl. tb < step, the
    chunked prefix machinery at chunk_buckets=4, and the auto router
    mixing short plain rows with long sliding rows)."""
    import random

    from oxbow_spark.operators.nuc import (_gc_windows_plain,
                                           _gc_windows_sliding)

    rng = random.Random(91)
    rows = [(f"s{i}", "".join(rng.choice("ACGTNacgtn") for _ in range(ln)))
            for i, ln in enumerate((1, 5, 37, 256, 1000, 3000))]
    rows.append(("empty", ""))
    df = spark.createDataFrame(rows, "name string, sequence string")

    def brute(window, step):
        out = {}
        for name, seq in rows:
            u = seq.upper()
            for s in range(0, len(u), step):
                w = u[s:s + window]
                called = sum(w.count(b) for b in "ACGT")
                out[(name, s)] = (len(w), pytest.approx(
                    (w.count("G") + w.count("C")) / max(called, 1)))
        return out

    # amplification (window/step) spans both sides of SLIDING_MIN_AMP
    # so the default kwargs exercise BOTH short-leg routes: plain
    # (amp 2-5) and sliding (amp 8-16)
    for window, step in ((10, 5), (20, 4), (6, 3), (64, 16),
                         (40, 5), (64, 4)):
        expect = brute(window, step)
        for kw in (dict(sliding=True),
                   dict(sliding=True, plain_max_bp=None),
                   dict(sliding=True, tile_bp=8),
                   dict(sliding=True, plain_max_bp=100),
                   dict(),
                   dict(plain_max_bp=100),
                   dict(tile_bp=8),
                   dict(plain_max_bp=None)):
            got = {(r.name, r.win_start): (r.win_len, r.gc_frac)
                   for r in gc_windows(df, window=window, step=step,
                                       **kw).collect()}
            assert got == expect, (window, step, kw)
        # tiny chunk_buckets forces prefix carries across many chunks
        buckets = _gc_windows_plain(df, step, step, "sequence", "name",
                                    counts=True)
        got = {(r.name, r.win_start): (r.win_len, r.gc_frac)
               for r in _gc_windows_sliding(buckets, window, step,
                                            "name",
                                            chunk_buckets=4).collect()}
        assert got == expect, (window, step, "chunk_buckets=4")


def test_gc_windows_sliding_plan_never_slices_window_width(spark):
    """Plan guard for the sliding path: all byte slicing happens at
    BUCKET (= step) width; no expression slices window-width pieces —
    the whole point is that overlapping windows never re-scan their
    bases (142 s → 5 s at window=1000/step=5 on one 10 Mbp contig)."""
    df = spark.createDataFrame([("x", "ACGT" * 64)],
                               "name string, sequence string")
    plan = gc_windows(df, window=40, step=5, sliding=True)._jdf \
        .queryExecution().optimizedPlan().toString()
    assert ", 5)" in plan.replace("substring", "substr"), plan
    assert "substr" in plan
    assert ", 40)" not in plan, plan
    # the DEFAULT router splits the SHORT leg PER ROW at
    # window/step >= SLIDING_MIN_AMP: rows whose len × amp recompute
    # clears SLIDING_MIN_ROW_RECOMPUTE_BP take the bucket path, tiny
    # rows (reads) keep the shuffle-free narrow plan. Both legs are in
    # the data-independent plan — the bucket leg's step-width slices,
    # the narrow leg's window-width slices gated by the recompute
    # cutoff literal
    from oxbow_spark.operators.nuc import SLIDING_MIN_ROW_RECOMPUTE_BP
    plan_auto = gc_windows(df, window=40, step=5)._jdf \
        .queryExecution().optimizedPlan().toString()
    cut = -(-SLIDING_MIN_ROW_RECOMPUTE_BP // 8)  # amp = 40/5
    assert str(cut) in plan_auto, plan_auto
    assert ", 5)" in plan_auto.replace("substring", "substr"), plan_auto
    assert ", 40)" in plan_auto.replace("substring", "substr"), plan_auto
    # below the threshold the short leg keeps the shuffle-free narrow
    # plan (window-width slices are the cheap option at amp <= 4)
    plan_low = gc_windows(df, window=20, step=5)._jdf \
        .queryExecution().optimizedPlan().toString()
    assert ", 20)" in plan_low.replace("substring", "substr"), plan_low
    # invalid combos refuse loudly
    with pytest.raises(ValueError):
        gc_windows(df, window=40, step=7, sliding=True)


def test_gc_windows_tiled_interior_bypasses_agg(spark):
    """Plan guard for the tiled path: INTERIOR windows (complete
    inside one tile) must reach the output without any aggregation —
    only the boundary-straddler leg may aggregate, so the shuffle is
    O(#tiles × window/step) partial-count rows, never O(#windows)."""
    df = spark.createDataFrame([("x", "ACGT" * 64)],
                               "name string, sequence string")
    plan = gc_windows(df, window=8, tile_bp=64)._jdf \
        .queryExecution().optimizedPlan().toString()
    # one union of two legs; exactly ONE Aggregate in the whole plan
    # (the straddler groupBy) — the interior leg is agg-free
    assert plan.count("Union") == 1, plan
    assert plan.count("Aggregate [") == 1, plan


def test_gc_windows_auto_routes_by_length(spark):
    """Default (auto) routing: rows at or under plain_max_bp take the
    narrow leg, longer rows the tiled leg, and the union is exactly
    the brute-force answer on a mix of both."""
    long_seq = "ACGTN" * 300  # 1500 bp
    rows = [("short", "GGCCAATT"), ("long", long_seq)]
    df = spark.createDataFrame(rows, "name string, sequence string")
    out = {(r.name, r.win_start): (r.win_len, r.gc_frac)
           for r in gc_windows(df, window=7, step=4,
                               plain_max_bp=100).collect()}
    expect = {}
    for name, seq in rows:
        u = seq.upper()
        for s in range(0, len(u), 4):
            w = u[s:s + 7]
            called = sum(w.count(b) for b in "ACGT")
            expect[(name, s)] = (len(w), pytest.approx(
                (w.count("G") + w.count("C")) / max(called, 1)))
    assert out == expect
    # plan: the plain leg filters length <= threshold, tiled leg > —
    # both legs present exactly once
    plan = gc_windows(df, window=7, step=4, plain_max_bp=100)._jdf \
        .queryExecution().optimizedPlan().toString()
    assert "Union" in plan, plan


def test_getfasta_sentinel_end_is_clamped(spark):
    """A corrupt/sentinel `end` (2^62) must clamp to the contig length
    BEFORE the tile explode — the row yields the clipped sequence
    instead of a billion-element tile fan-out."""
    from oxbow_spark.operators.nuc import getfasta_intervals

    seqs = spark.createDataFrame([("c1", "ACGTACGTGG")],
                                 "name string, seq string")
    iv = spark.createDataFrame(
        [("c1", 4, 1 << 62, "huge"), ("c1", 2, 6, "ok"),
         ("c1", 12, 1 << 62, "past_end"), ("nope", 0, 1 << 62, "unknown")],
        "chrom string, start long, end long, name string")
    got = {r.name: r.iv_seq
           for r in getfasta_intervals(iv, seqs, tile_bp=4).collect()}
    assert got == {"huge": "ACGTGG", "ok": "GTAC"}


def test_gc_windows_short_leg_per_row_recompute_split(spark, monkeypatch):
    """The short/forced-narrow leg splits PER ROW at high amplification:
    rows under the recompute cutoff keep the narrow plan, rows over it
    take the bucket path — values identical on both sides of the
    boundary (cutoff patched small so tiny fixtures exercise both
    sub-legs), and `sliding=False` still matches."""
    import oxbow_spark.operators.nuc as nuc_mod

    monkeypatch.setattr(nuc_mod, "SLIDING_MIN_ROW_RECOMPUTE_BP", 256)
    df = spark.createDataFrame(
        [("tiny", "ACGTGC"), ("mid", "ACGT" * 16), ("big", "GATTACA" * 40)],
        "name string, sequence string")
    for kw in (dict(), dict(plain_max_bp=None)):
        got = sorted(map(tuple, nuc_mod.gc_windows(
            df, window=40, step=5, **kw).collect()))
        ref = sorted(map(tuple, nuc_mod.gc_windows(
            df, window=40, step=5, sliding=False, **kw).collect()))
        assert got == ref and got, kw
    # cutoff = ceil(256/8) = 32: 'tiny'/'mid' shapes under/over it —
    # both sub-legs carried rows (sanity on the split itself)
    plan = nuc_mod.gc_windows(df, window=40, step=5)._jdf \
        .queryExecution().optimizedPlan().toString()
    assert "32" in plan


def test_getfasta_auto_tile_is_one_eager_job(spark):
    """tile_bp=None auto-sizing is exactly ONE Spark job at call time
    (the docstring's eager-job warning: a derived, uncached intervals
    frame pays one extra upstream execution); an explicit tile_bp runs
    zero jobs at construction."""
    from oxbow_spark.operators.nuc import getfasta_intervals

    sc = spark.sparkContext
    seqs = spark.createDataFrame([("c1", "ACGT" * 32)],
                                 "name string, seq string")
    ivs = spark.createDataFrame([("c1", 0, 16)],
                                "chrom string, start long, end long")

    def jobs_during(**kw) -> int:
        tag = f"getfasta-est-{kw.get('tile_bp')}"
        sc.setJobGroup(tag, "auto tile job count")
        try:
            getfasta_intervals(ivs, seqs, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag) or [])

    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert jobs_during(tile_bp=None) == 1
        assert jobs_during(tile_bp=1 << 16) == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
