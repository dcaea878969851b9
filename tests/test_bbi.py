"""BigWig/BigBed (BBI) source tests + zoom_aggregate parity with the
reference's precomputed zoom levels."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.corpus import fixtures_dir, needs_checkout

FIX = fixtures_dir()
BW = f"{FIX}/sample.bw"
BB = f"{FIX}/sample.bb"


@pytest.fixture(scope="session")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


@needs_checkout
def test_bigwig_scan(gspark):
    df = gspark.read.format("bigwig").load(BW)
    rows = df.collect()
    assert len(rows) == 100
    assert rows[0].chrom == "chr21" and rows[0].start == 9486505
    assert rows[0].end == 9486520 and rows[0].value == 40.0
    assert df.schema["value"].dataType.typeName() == "float"


@needs_checkout
def test_bigwig_region(gspark):
    reg = (
        gspark.read.format("bigwig")
        .option("regions", "chr21:[9486505,9486520)").load(BW)
    )
    assert reg.count() == 1
    empty = (
        gspark.read.format("bigwig").option("regions", "chr1:[0,1000)").load(BW)
    )
    assert empty.count() == 0


@needs_checkout
def test_bigwig_coords(gspark):
    a = gspark.read.format("bigwig").load(BW).first()
    b = gspark.read.format("bigwig").option("coords", "11").load(BW).first()
    assert b.start == a.start + 1 and b.end == a.end


@needs_checkout
def test_bigbed_scan(gspark):
    df = gspark.read.format("bigbed").load(BB)
    rows = df.collect()
    assert len(rows) == 100
    assert rows[0].chrom == "chr21" and rows[0].start == 14797911


@needs_checkout
def test_zoom_scan(gspark):
    z = gspark.read.format("bigwig").option("zoom", "0").load(BW)
    rows = z.collect()
    assert rows and rows[0].bases_covered == 25
    assert rows[0].min == 20.0 and rows[0].max == 40.0 and rows[0].sum == 900.0
    with pytest.raises(Exception, match="zoom level"):
        gspark.read.format("bigwig").option("zoom", "9").load(BW).collect()


@needs_checkout
def test_metadata(gspark):
    from oxbow_spark.sources.bbi import BigWigDataSource

    src = BigWigDataSource({"path": BW})
    assert src.chrom_sizes() == {"chr21": 48129895}
    assert src.zoom_levels() == [2621440, 10485760, 41943040]


@needs_checkout
def test_zoom_aggregate_parity(gspark):
    """Our zoom_aggregate operator over base signal must agree with the
    reference's precomputed zoom table on bin-independent totals
    (BBI zoom bins anchor at the first data position, not the grid, so
    per-bin rows aren't directly comparable)."""
    from oxbow_spark.operators.zoom import zoom_aggregate

    base = gspark.read.format("bigwig").load(BW)
    ours = zoom_aggregate(base, resolution=2621440, end_col="end")
    o = ours.agg(
        F.sum("bases_covered").alias("bases"),
        F.min("min").alias("mn"), F.max("max").alias("mx"),
        F.sum("sum").alias("s"), F.sum("sum_squares").alias("ss"),
    ).first()
    z = gspark.read.format("bigwig").option("zoom", "0").load(BW)
    t = z.agg(
        F.sum("bases_covered").alias("bases"),
        F.min("min").alias("mn"), F.max("max").alias("mx"),
        F.sum("sum").alias("s"), F.sum("sum_squares").alias("ss"),
    ).first()
    assert o.bases == t.bases
    assert o.mn == t.mn and o.mx == t.mx
    assert abs(o.s - t.s) < 1e-3 and abs(o.ss - t.ss) < 1e-1


# ---------------------------------------------------------------- AutoSql

NARROWPEAK_AS = """table narrowPeak
"BED6+4 Peaks of signal enrichment based on pooled, normalized (interpreted) data."
(
    string chrom;        "Reference sequence chromosome or scaffold"
    uint   chromStart;   "Start position in chromosome"
    uint   chromEnd;     "End position in chromosome"
    string name;         "Name given to a region (preferably unique)"
    uint   score;        "Indicates how dark the peak will be displayed (0-1000)"
    char[1]  strand;     "+ or - or . for unknown"
    float  signalValue;  "Measurement of overall enrichment for the region"
    float  pValue;       "Statistical significance of signal value (-log10)"
    float  qValue;       "Statistical significance with multiple-test correction"
    uint   peak;         "Point-source called for this peak"
)
"""


def _write_bigbed(path, autosql: str, rows):
    """Minimal little-endian BigBed: header, AutoSql, chrom tree (one
    leaf), one uncompressed data block, one R-tree leaf."""
    import struct

    chroms = sorted({r[0] for r in rows})
    cid = {c: i for i, c in enumerate(chroms)}
    asql = autosql.encode() + b"\x00"
    data = b"".join(
        struct.pack("<III", cid[r[0]], r[1], r[2])
        + "\t".join(str(x) for x in r[3:]).encode() + b"\x00"
        for r in rows
    )
    key_size = max(len(c) for c in chroms)
    header_sz = 64
    autosql_off = header_sz
    chrom_tree_off = autosql_off + len(asql)
    tree = struct.pack("<IIIIQQ", 0x78CA8C91, 256, key_size, 8, len(chroms), 0)
    tree += struct.pack("<BBH", 1, 0, len(chroms))
    for c in chroms:
        tree += c.encode().ljust(key_size, b"\x00") + struct.pack("<II", cid[c], 10**9)
    full_data_off = chrom_tree_off + len(tree)
    data_block_off = full_data_off + 8  # u64 item count precedes data
    full_index_off = data_block_off + len(data)
    scix = min(cid[r[0]] for r in rows)
    ecix = max(cid[r[0]] for r in rows)
    sb = min(r[1] for r in rows)
    eb = max(r[2] for r in rows)
    rtree = struct.pack("<IIQIIIIQII", 0x2468ACE0, 256, len(rows),
                        scix, sb, ecix, eb, full_index_off, 512, 0)
    rtree += struct.pack("<BBH", 1, 0, 1)
    rtree += struct.pack("<IIIIQQ", scix, sb, ecix, eb, data_block_off, len(data))
    n_fields = 3 + len(rows[0]) - 3
    header = struct.pack("<IHHQQQHHQQIQ", 0x8789F2EB, 4, 0, chrom_tree_off,
                         full_data_off, full_index_off, n_fields, 6,
                         autosql_off, 0, 0, 0)
    with open(path, "wb") as f:
        f.write(header + asql + tree + struct.pack("<Q", len(rows)) + data + rtree)


NP_ROWS = [
    ("chr1", 100, 500, "peak1", 680, "+", 5.5, 3.25, 2.5, 120),
    ("chr1", 900, 1400, "peak2", 1000, "-", 8.75, 6.5, 5.125, 300),
    ("chr2", 50, 300, ".", 0, ".", 1.5, -1.0, -1.0, 60),
]


def test_bigbed_autosql_typed_fields(gspark, tmp_path):
    """narrowPeak BigBed: the embedded AutoSql declaration types the
    custom columns (reference `py-oxbow/src/bbi.rs:258-279`)."""
    bb = tmp_path / "np.bb"
    _write_bigbed(bb, NARROWPEAK_AS, NP_ROWS)
    df = gspark.read.format("bigbed").load(str(bb))
    assert df.columns == [
        "chrom", "start", "end", "name", "score", "strand",
        "signalValue", "pValue", "qValue", "peak",
    ]
    rows = {(r.chrom, r.start): r for r in df.collect()}
    assert len(rows) == 3
    r = rows[("chr1", 100)]
    assert r.name == "peak1" and r.score == 680 and r.strand == "+"
    assert abs(r.signalValue - 5.5) < 1e-6 and r.peak == 120
    import pyspark.sql.types as T
    sch = dict((f.name, f.dataType) for f in df.schema)
    assert isinstance(sch["score"], T.LongType)  # uint -> bigint
    assert isinstance(sch["signalValue"], T.FloatType)
    # '.' stays verbatim in strings, numerics parse exactly
    r2 = rows[("chr2", 50)]
    assert r2.name == "." and r2.pValue == -1.0


def test_bigbed_autosql_region_and_fields(gspark, tmp_path):
    bb = tmp_path / "np.bb"
    _write_bigbed(bb, NARROWPEAK_AS, NP_ROWS)
    df = (
        gspark.read.format("bigbed")
        .option("fields", "chrom,start,end,signalValue")
        .option("regions", "chr1:[0,600)")
        .load(str(bb))
    )
    rows = df.collect()
    assert df.columns == ["chrom", "start", "end", "signalValue"]
    assert [(r.chrom, r.start) for r in rows] == [("chr1", 100)]


def test_bigbed_rest_override(gspark, tmp_path):
    bb = tmp_path / "np.bb"
    _write_bigbed(bb, NARROWPEAK_AS, NP_ROWS)
    df = gspark.read.format("bigbed").option("bed_schema", "rest").load(str(bb))
    assert df.columns == ["chrom", "start", "end", "rest"]
    assert df.first().rest.startswith("peak1\t")


@needs_checkout
def test_bigbed_fixture_bed3_autosql(gspark):
    # sample.bb declares plain bed3: no custom columns, no rest
    df = gspark.read.format("bigbed").load(BB)
    assert df.columns == ["chrom", "start", "end"]
    assert df.count() == 100


def _bb_scan(path, force_loop=False, **opts):
    """In-process reader drive (executor monkeypatching is invisible
    through spark.read) — returns row tuples across all partitions."""
    from oxbow_spark.sources import bbi as bbi_mod
    from oxbow_spark.sources.bbi import BigBedDataSource

    ds = BigBedDataSource({"path": path, **opts})
    rd = ds.reader(None)
    orig = bbi_mod.BbiReader._read_typed_np
    if force_loop:
        bbi_mod.BbiReader._read_typed_np = lambda self, b, part: None
    try:
        rows = []
        for part in rd.partitions():
            for b in rd.read(part):
                rows.extend(map(tuple, (d.values() for d in b.to_pylist())))
        return sorted(rows, key=repr)
    finally:
        bbi_mod.BbiReader._read_typed_np = orig


def test_bigbed_typed_vectorized_engages_and_matches(gspark, tmp_path):
    """The split+cast fast path must ENGAGE for the narrowPeak synthetic
    and agree with the per-record parser loop row for row (incl. the
    '.'-verbatim string / '.'-null numeric split); a ragged payload must
    fall back, not misparse."""
    from oxbow_spark.sources import bbi as bbi_mod

    p = str(tmp_path / "t.bb")
    _write_bigbed(p, NARROWPEAK_AS, NP_ROWS)
    engaged = {"fast": 0, "fallback": 0}
    orig = bbi_mod.BbiReader._read_typed_np

    def spy(self, b, part):
        r = orig(self, b, part)
        engaged["fast" if r is not None else "fallback"] += 1
        return r

    bbi_mod.BbiReader._read_typed_np = spy
    try:
        fast = _bb_scan(p)
        assert engaged["fast"] > 0 and engaged["fallback"] == 0, engaged
        engaged.update(fast=0, fallback=0)
        f2 = _bb_scan(p, regions="chr1:100-1000",
                      fields="chrom,start,name,signalValue")
        assert engaged["fast"] > 0
    finally:
        bbi_mod.BbiReader._read_typed_np = orig
    assert fast == _bb_scan(p, force_loop=True)
    assert f2 == _bb_scan(p, force_loop=True, regions="chr1:100-1000",
                          fields="chrom,start,name,signalValue")
    assert len(f2) > 0

    # ragged rest (one row missing trailing fields): fallback path keeps
    # parser-loop semantics (missing -> None)
    ragged = NP_ROWS[:1] + [("chr2", 10, 20, "x", 5, "+", 1.0)]
    p3 = str(tmp_path / "r.bb")
    _write_bigbed(p3, NARROWPEAK_AS, ragged)
    rows = {(r.chrom, r.start): r
            for r in gspark.read.format("bigbed").load(p3).collect()}
    assert rows[("chr2", 10)].pValue is None
    assert rows[("chr2", 10)].peak is None


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_bigbed_typed_fuzz_fast_equals_loop(gspark, tmp_path, seed):
    """Random typed schemas and adversarial values (negatives, '+5',
    dots, empties, inf/nan floats, trailing-comma lists, ragged rows):
    the split+cast fast path must equal the parser loop — falling back
    counts, silently diverging does not."""
    import random

    rng = random.Random(seed)
    field_types = ["string", "int", "uint", "float", "double",
                   "int[3]", "float[2]", "string[2]", "bigint"]
    n_fields = rng.randrange(1, 5)
    chosen = [rng.choice(field_types) for _ in range(n_fields)]
    fields = "\n".join(
        f"    {t:8s} f{i};  \"field {i}\"" for i, t in enumerate(chosen))
    asql = (f'table fuzz\n"fuzz"\n(\n'
            f'    string chrom; "c"\n    uint chromStart; "s"\n'
            f'    uint chromEnd; "e"\n{fields}\n)\n')

    def val(t):
        if t.startswith("string["):
            return rng.choice(["a,b", "x,", ",", "a,b,", "."])
        if "[" in t:  # numeric list
            base = rng.choice(["1,2,3", "4,5,", "-1,0,7", "."])
            return base
        if t == "string":
            return rng.choice(["hello", ".", "", "x.y", "a b"])
        if t in ("float", "double"):
            return rng.choice(["1.5", "-2.25", ".", "", "1e3", "0.0"])
        return rng.choice(["0", "7", "-3", "1000000", ".", ""])

    rows = []
    pos = 0
    for i in range(60):
        rest_vals = [val(t) for t in chosen]
        if rng.random() < 0.1:
            rest_vals = rest_vals[:max(0, len(rest_vals) - 1)]  # ragged
        rows.append((f"chr{1 + i % 2}", pos, pos + 10,
                     *rest_vals))
        pos += 20
    # _write_bigbed packs rest as tab-joined str() of the extras
    packed = [(c, s, e) + tuple(vs) for c, s, e, *vs in rows]
    p = str(tmp_path / "fz.bb")
    _write_bigbed(p, asql, packed)
    fast = _bb_scan(p)
    slow = _bb_scan(p, force_loop=True)
    assert fast == slow, (asql, fast[:3], slow[:3])
