"""CRAM DataSource: decode parity vs the SAM source on the reference
fixture (same records: `fixtures/sample.sam` ↔ `fixtures/sample.cram`),
region/projection/coords options, and the rANS 4x8 codec."""

from __future__ import annotations

import os
import struct

import pytest

from oxbow_spark.sources.cram import rans4x8_decode
from tests.corpus import CHECKOUT, needs_checkout

FIX = CHECKOUT


@pytest.fixture(scope="module")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


@needs_checkout
def test_cram_matches_sam(gspark):
    cram = sorted(tuple(r) for r in
                  gspark.read.format("cram").load(f"{FIX}/sample.cram").collect())
    sam = sorted(tuple(r) for r in
                 gspark.read.format("sam").load(f"{FIX}/sample.sam").collect())
    assert cram == sam
    assert len(cram) == 3


@needs_checkout
def test_cram_region_pushdown(gspark):
    df = gspark.read.format("cram").option("regions", "chr1:25-40").load(
        f"{FIX}/sample.cram")
    names = sorted(r.qname for r in df.collect())
    # r004 spans 16-40, r003 spans 29-33; r001 is on chr2
    assert names == ["r003", "r004"]
    # container-level pruning: chr2-only region must not read the chr1 container
    df2 = gspark.read.format("cram").option("regions", "chr2:1-50").load(
        f"{FIX}/sample.cram")
    assert [r.qname for r in df2.collect()] == ["r001"]


@needs_checkout
def test_crai_planning_matches_header_walk(gspark, tmp_path):
    """With a .crai the planner reads one small index instead of walking
    every container header; results must be identical either way."""
    import shutil

    from oxbow_spark.sources.cram import crai_container_slices, read_crai

    entries = read_crai(f"{FIX}/sample.cram.crai")
    assert entries and all(len(e) == 6 for e in entries)
    by_c = crai_container_slices(entries)
    assert all(off > 0 for off in by_c)

    bare = tmp_path / "noidx.cram"
    shutil.copy(f"{FIX}/sample.cram", bare)  # no .crai → header walk

    for regions in (None, "chr1:25-40", "chr1:25-40;chr2:1-50", "chr2:1-50"):
        a = gspark.read.format("cram")
        b = gspark.read.format("cram")
        if regions:
            a = a.option("regions", regions)
            b = b.option("regions", regions)
        ra = sorted(tuple(r) for r in a.load(f"{FIX}/sample.cram").collect())
        rb = sorted(tuple(r) for r in b.load(str(bare)).collect())
        assert ra == rb


@needs_checkout
def test_cram_multi_region_no_duplicates(gspark):
    # overlapping regions must behave as their union: one partition per
    # container, union residual — never one row per matching region
    def rows(regions):
        df = gspark.read.format("cram").option("regions", regions).load(
            f"{FIX}/sample.cram")
        return sorted((r.qname, r.flag, r.rname, r.pos) for r in df.collect())

    assert rows("chr1:25-40;chr1:30-45") == rows("chr1:25-45")
    both = rows("chr1:1-100;chr2:1-100")
    assert len(both) == len(set(both)) == 3


@needs_checkout
def test_cram_projection_and_coords(gspark):
    df = (
        gspark.read.format("cram")
        .option("fields", "qname,rname,pos,end")
        .option("coords", "01")
        .load(f"{FIX}/sample.cram")
    )
    assert df.columns == ["qname", "rname", "pos", "end"]
    got = {r.qname: (r.pos, r.end) for r in df.collect()}
    # starts shift by exactly -1 under "01"; ends never shift
    assert got["r004"] == (15, 40)
    assert got["r003"] == (28, 33)
    assert got["r001"] == (36, 45)


@needs_checkout
def test_cram_tags_scan(gspark):
    df = gspark.read.format("cram").option("tags", "scan").load(
        f"{FIX}/sample.cram")
    assert "tags" in df.columns
    rows = df.select("tags").collect()
    # samtools records its cram flags in a cF:C aux tag on every record
    assert all(r.tags.cF == 3 for r in rows)


@needs_checkout
def test_cram31_external_reference(gspark):
    """sample-ref.cram is CRAM 3.1 (rANS Nx16 blocks, no embedded
    reference): decoding against sample-ref.fa must equal the SAM twin."""
    cram = sorted(tuple(r) for r in
                  gspark.read.format("cram")
                  .option("reference", f"{FIX}/sample-ref.fa")
                  .load(f"{FIX}/sample-ref.cram").collect())
    sam = sorted(tuple(r) for r in
                 gspark.read.format("sam").load(f"{FIX}/sample-ref.sam").collect())
    assert cram == sam
    assert len(cram) == 5


def _reference_based_cram31(gspark, out: str) -> str:
    """A CRAM 3.1 written with ``reference=`` (RR=1, no embedded
    reference) from the generated corpus's BAM."""
    import glob

    from tests.corpus import generated_dir

    d = generated_dir()
    with open(f"{d}/sample.sam") as f:
        header = "".join(ln for ln in f if ln.startswith("@"))
    (gspark.read.format("bam").load(f"{d}/sample.bam").limit(50).coalesce(1)
     .write.format("cram").option("header", header)
     .option("reference", f"{d}/sample.fasta").option("version", "3.1")
     .mode("overwrite").save(out))
    return glob.glob(f"{out}/*.cram")[0]


def test_cram31_without_reference_raises(gspark, tmp_path):
    """A reference-based CRAM 3.1 read without its FASTA fails in the
    decoder: the checkout's htslib file where it exists, else one this
    repository's writer made."""
    path = f"{FIX}/sample-ref.cram"
    if not os.path.isdir(CHECKOUT):
        path = _reference_based_cram31(gspark, str(tmp_path / "ref31"))
    with pytest.raises(Exception, match="requires reference bases"):
        gspark.read.format("cram").load(path).collect()


def test_rans_nx16_pack_cat():
    from oxbow_spark.sources.cram import rans_nx16_decode

    # flags 0xa0 = PACK|CAT; 2 symbols → 1 bit each, LSB-first
    # output "ABABABAB" (8 bytes) → packed byte 0b01010101 with syms [A,B]
    blob = bytes([0xA0, 8, 2, ord("A"), ord("B"), 1, 0b10101010])
    assert rans_nx16_decode(blob) == b"ABABABAB"
    # constant run: nsym=1 → no payload at all
    blob = bytes([0xA0, 5, 1, ord("Q"), 0])
    assert rans_nx16_decode(blob) == b"QQQQQ"


@needs_checkout
def test_cram_limit(gspark):
    df = gspark.read.format("cram").option("limit", "1").load(f"{FIX}/sample.cram")
    # limit applies per partition (container); 2 containers → ≤ 2 rows
    assert df.count() <= 2


def _rans0_encode(data: bytes) -> bytes:
    """Minimal rANS 4x8 order-0 encoder (test-side oracle for the decoder):
    frequencies normalized to 4096, 4 interleaved states, bytes encoded in
    reverse, renormalizing 8 bits at a time below 1<<23."""
    n = len(data)
    counts = [0] * 256
    for b in data:
        counts[b] += 1
    # normalize to 4096 keeping every present symbol >= 1
    total = sum(counts)
    freq = [0] * 256
    acc = 0
    present = [s for s in range(256) if counts[s]]
    for s in present:
        freq[s] = max(1, (counts[s] * 4096) // total)
        acc += freq[s]
    freq[present[0]] += 4096 - acc  # dump remainder on first symbol
    cum = [0] * 257
    for i in range(256):
        cum[i + 1] = cum[i] + freq[i]

    # frequency table serialization: every symbol explicit (rle byte is
    # mandatory whenever sym == last+1 — emitted as 0), 1-2 byte freqs
    tbl = bytearray()
    last = None
    for s in present:
        tbl.append(s)
        if last is not None and s == last + 1:
            tbl.append(0)
        f = freq[s]
        if f >= 0x80:
            tbl += bytes([0x80 | (f >> 8), f & 0xFF])
        else:
            tbl.append(f)
        last = s
    tbl.append(0)

    R = [1 << 23] * 4
    out = bytearray()
    for i in range(n - 1, -1, -1):
        j = i & 3
        s = data[i]
        f, cm = freq[s], cum[s]
        x = R[j]
        x_max = ((1 << 31) >> 12) * f  # renorm bound: keep x < f * 2^(31-12)
        while x >= x_max:
            out.append(x & 0xFF)
            x >>= 8
        R[j] = ((x // f) << 12) + (x % f) + cm
    states = b"".join(struct.pack("<I", R[j]) for j in range(4))
    payload = states + bytes(reversed(out))
    return bytes([0]) + struct.pack("<I", len(payload)) + struct.pack("<I", n) + bytes(tbl) + payload


@pytest.mark.parametrize("data", [
    b"hello hello hello rANS rANS rANS" * 20,
    bytes(range(97, 105)) * 513,
    b"A" * 4096,
])
def test_rans4x8_order0_roundtrip(data):
    assert rans4x8_decode(_rans0_encode(data)) == data


def _norm_freqs(counts: dict[int, int]) -> list[int]:
    freq = [0] * 256
    total = sum(counts.values())
    present = sorted(counts)
    acc = 0
    for s in present:
        freq[s] = max(1, (counts[s] * 4096) // total)
        acc += freq[s]
    freq[present[0]] += 4096 - acc
    return freq


def _emit_freq_table(tbl: bytearray, freq: list[int], inner_emit) -> None:
    """Shared symbol/RLE serialization: for each present symbol, emit the
    symbol byte (rle byte 0 when consecutive), then `inner_emit(sym)`."""
    present = [s for s in range(256) if freq[s]]
    last = None
    for s in present:
        tbl.append(s)
        if last is not None and s == last + 1:
            tbl.append(0)
        inner_emit(s)
        last = s
    tbl.append(0)


def _rans1_encode(data: bytes) -> bytes:
    """Test-side rANS 4x8 order-1 encoder mirroring the spec's decode
    order: 4 states own the 4 quarters (state 3 takes the remainder);
    context = previous byte within the quarter (0 at quarter start);
    encoding walks the decode sequence in exact reverse so interleaved
    renormalization bytes land where the decoder reads them."""
    import struct as _struct

    n = len(data)
    q = n >> 2
    starts = [0, q, 2 * q, 3 * q]
    ends = [q, 2 * q, 3 * q, n]  # state 3 owns the remainder

    def ctx(p: int, j: int) -> int:
        return 0 if p == starts[j] else data[p - 1]

    # per-context transition counts
    counts: dict[int, dict[int, int]] = {}
    for j in range(4):
        for p in range(starts[j], ends[j]):
            counts.setdefault(ctx(p, j), {}).setdefault(data[p], 0)
            counts[ctx(p, j)][data[p]] += 1
    freqs = {c: _norm_freqs(cs) for c, cs in counts.items()}
    cums = {}
    for c, f in freqs.items():
        cum = [0] * 257
        for i in range(256):
            cum[i + 1] = cum[i] + f[i]
        cums[c] = cum

    # serialize: outer context RLE, inner order-0 table per context
    tbl = bytearray()
    ctx_freq = [1 if c in freqs else 0 for c in range(256)]

    def emit_inner(c: int) -> None:
        def emit_f(s: int) -> None:
            f = freqs[c][s]
            if f >= 0x80:
                tbl.extend([0x80 | (f >> 8), f & 0xFF])
            else:
                tbl.append(f)
        _emit_freq_table(tbl, freqs[c], emit_f)

    _emit_freq_table(tbl, ctx_freq, emit_inner)

    # decode op order: rounds i=0..q-1 with j=0..3, then remainder (state 3)
    ops = [(j, starts[j] + i) for i in range(q) for j in range(4)]
    ops += [(3, p) for p in range(4 * q, n)]

    R = [1 << 23] * 4
    out = bytearray()
    for j, p in reversed(ops):
        s = data[p]
        c = ctx(p, j)
        f, cm = freqs[c][s], cums[c][s]
        x = R[j]
        x_max = ((1 << 31) >> 12) * f
        while x >= x_max:
            out.append(x & 0xFF)
            x >>= 8
        R[j] = ((x // f) << 12) + (x % f) + cm
    states = b"".join(_struct.pack("<I", R[j]) for j in range(4))
    payload = states + bytes(reversed(out))
    return bytes([1]) + _struct.pack("<I", len(payload)) + _struct.pack("<I", n) + bytes(tbl) + payload


@pytest.mark.parametrize("data", [
    b"the quick brown fox jumps over the lazy dog " * 40,
    b"AAAABBBBCCCCDDDD" * 300 + b"xyz",   # remainder exercises state 3
    bytes([65, 67, 71, 84]) * 1000 + b"N",  # DNA-ish with order-1 structure
])
def test_rans4x8_order1_roundtrip(data):
    assert rans4x8_decode(_rans1_encode(data)) == data
