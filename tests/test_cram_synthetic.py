"""Synthetic CRAM container built byte-by-byte in the test: covers decode
paths the reference fixtures never hit — multiref slices (RI series),
intra-slice mate linking (NF chains), unmapped placed records (BA bases),
absolute (non-delta) alignment positions, and soft-clip-only CIGARs."""

from __future__ import annotations

import struct
import zlib

import pytest

from tests.corpus import CHECKOUT, needs_checkout


def itf8(v: int) -> bytes:
    v &= 0xFFFFFFFF
    if v < 0x80:
        return bytes([v])
    if v < 0x4000:
        return bytes([0x80 | (v >> 8), v & 0xFF])
    if v < 0x200000:
        return bytes([0xC0 | (v >> 16), (v >> 8) & 0xFF, v & 0xFF])
    if v < 0x10000000:
        return bytes([0xE0 | (v >> 24), (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF])
    return bytes([0xF0 | (v >> 28), (v >> 20) & 0xFF, (v >> 12) & 0xFF,
                  (v >> 4) & 0xFF, v & 0x0F])


def ltf8(v: int) -> bytes:
    assert 0 <= v < 0x80
    return bytes([v])


def block(ctype: int, cid: int, data: bytes, method: int = 0) -> bytes:
    body = bytes([method, ctype]) + itf8(cid) + itf8(len(data)) + itf8(len(data)) + data
    return body + struct.pack("<I", zlib.crc32(body))


def external(cid: int) -> bytes:
    """Series encoding entry value: codec EXTERNAL + params."""
    params = itf8(cid)
    return itf8(1) + itf8(len(params)) + params


def stop_enc(cid: int, stop: int = 0) -> bytes:
    params = bytes([stop]) + itf8(cid)
    return itf8(5) + itf8(len(params)) + params


CIDS = {"BF": 1, "CF": 2, "RI": 3, "RL": 4, "AP": 5, "RG": 6, "RN": 7,
        "NF": 8, "TL": 9, "FN": 10, "FC": 11, "FP": 12, "SC": 13,
        "MQ": 14, "QS": 15, "BA": 16}


def build_cram() -> bytes:
    sam_text = "@SQ\tSN:chr1\tLN:1000\n@SQ\tSN:chr2\tLN:1000\n"

    def container(ref_id, start, span, nrec, blocks: list[bytes]) -> bytes:
        body = b"".join(blocks)
        hdr = (itf8(ref_id) + itf8(start) + itf8(span) + itf8(nrec)
               + ltf8(0) + ltf8(0) + itf8(len(blocks)) + itf8(1) + itf8(0))
        hdr += struct.pack("<I", zlib.crc32(hdr))
        return struct.pack("<i", len(body)) + hdr + body

    # ---- file header container
    raw = struct.pack("<i", len(sam_text)) + sam_text.encode()
    fh = container(0, 0, 0, 0, [block(0, 0, raw)])

    # ---- compression header
    pres = (b"RN" + b"\x01" + b"AP" + b"\x00" + b"RR" + b"\x00"
            + b"SM" + bytes(5) + b"TD" + itf8(1) + b"\x00")
    pres_body = itf8(5) + pres  # 5 entries
    pres_map = itf8(len(pres_body)) + pres_body
    entries = []
    for key in ("BF", "CF", "RI", "RL", "AP", "RG", "NF", "TL", "FN",
                "FC", "FP", "MQ", "QS", "BA"):
        entries.append(key.encode() + external(CIDS[key]))
    entries.append(b"RN" + stop_enc(CIDS["RN"]))
    entries.append(b"SC" + stop_enc(CIDS["SC"]))
    ser_body = itf8(len(entries)) + b"".join(entries)
    ser_map = itf8(len(ser_body)) + ser_body
    tag_body = itf8(0)
    tag_map = itf8(len(tag_body)) + tag_body
    comp = block(1, 0, pres_map + ser_map + tag_map)

    # ---- per-series streams (values in decode order across 3 records)
    # r1: chr1:100 4S read "ACGT", paired, mate downstream (NF=0)
    # r2: chr2:200 4S read "ACGT", mate of r1 (linked, CF has no mate bits)
    # r3: unmapped, bases GGGG via BA
    streams = {
        "BF": itf8(65) + itf8(145) + itf8(4),
        "CF": itf8(5) + itf8(1) + itf8(1),
        "RI": itf8(0) + itf8(1) + itf8(-1),
        "RL": itf8(4) * 3,
        "AP": itf8(100) + itf8(200) + itf8(0),
        "RG": itf8(-1) * 3,
        "RN": b"p1\x00p1\x00u1\x00",
        "NF": itf8(0),
        "TL": itf8(0) * 3,
        "FN": itf8(1) + itf8(1),
        "FC": b"SS",
        "FP": itf8(1) + itf8(1),
        "SC": b"ACGT\x00TTAA\x00",
        "MQ": itf8(30) + itf8(30),
        "QS": bytes([30] * 12),
        "BA": b"GGGG",
    }
    ext_blocks = [block(4, CIDS[k], v) for k, v in streams.items()]

    # ---- slice header (multiref: ref_id = -2)
    ids = [CIDS[k] for k in streams]
    sl = (itf8(-2) + itf8(0) + itf8(0) + itf8(3) + ltf8(0)
          + itf8(len(ext_blocks)) + itf8(len(ids)) + b"".join(itf8(i) for i in ids)
          + itf8(-1) + bytes(16))
    slice_hdr = block(2, 0, sl)

    data_ct = container(-2, 0, 0, 3, [comp, slice_hdr] + ext_blocks)

    # ---- EOF container (ref -1, 1 block, nrec 0)
    eof_blk = block(1, 0, itf8(0) * 3)
    eof = container(-1, 4542278, 0, 0, [eof_blk])

    return b"CRAM\x03\x00" + bytes(20) + fh + data_ct + eof


@pytest.fixture(scope="module")
def cram_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("syncram") / "synthetic.cram"
    p.write_bytes(build_cram())
    return str(p)


def test_synthetic_cram_decodes(spark, cram_path):
    from oxbow_spark.sources import register_all

    register_all(spark)
    rows = {r.qname: r for r in
            spark.read.format("cram").load(cram_path).collect()}
    assert set(rows) == {"p1", "u1"}


def test_multiref_and_softclip(spark, cram_path):
    from oxbow_spark.sources import register_all

    register_all(spark)
    got = sorted(
        (r.rname, r.pos, r.cigar, r.seq)
        for r in spark.read.format("cram").load(cram_path).collect()
        if r.qname == "p1"
    )
    assert got == [
        ("chr1", 100, "4S", "ACGT"),
        ("chr2", 200, "4S", "TTAA"),
    ]


def test_nf_mate_linking(spark, cram_path):
    from oxbow_spark.sources import register_all

    register_all(spark)
    recs = {(r.rname): r for r in
            spark.read.format("cram").load(cram_path).collect()
            if r.qname == "p1"}
    r1, r2 = recs["chr1"], recs["chr2"]
    assert (r1.rnext, r1.pnext) == ("chr2", 200)
    assert (r2.rnext, r2.pnext) == ("chr1", 100)
    assert r1.tlen == -r2.tlen != 0


def test_unmapped_ba_record(spark, cram_path):
    from oxbow_spark.sources import register_all

    register_all(spark)
    u = [r for r in spark.read.format("cram").load(cram_path).collect()
         if r.qname == "u1"][0]
    assert u.rname is None and u.pos is None and u.cigar is None
    assert u.seq == "GGGG"
    assert u.flag == 4
    assert u.qual == "".join(chr(30 + 33) for _ in range(4))


# ------------------------------------------------- multi-slice container


def build_multislice_cram() -> bytes:
    """A data container holding TWO slices (single-ref: chr1 then chr2),
    correct landmarks, shared compression header — exercises the
    slice loop in `CramReader.read` (`while body.p < len(body.b)`)."""
    sam_text = "@SQ\tSN:chr1\tLN:1000\n@SQ\tSN:chr2\tLN:1000\n"

    def container(ref_id, start, span, nrec, blocks, landmarks=(0,)):
        body = b"".join(blocks)
        hdr = (itf8(ref_id) + itf8(start) + itf8(span) + itf8(nrec)
               + ltf8(0) + ltf8(0) + itf8(len(blocks))
               + itf8(len(landmarks)) + b"".join(itf8(x) for x in landmarks))
        hdr += struct.pack("<I", zlib.crc32(hdr))
        return struct.pack("<i", len(body)) + hdr + body

    raw = struct.pack("<i", len(sam_text)) + sam_text.encode()
    fh = container(0, 0, 0, 0, [block(0, 0, raw)])

    pres = (b"RN" + b"\x01" + b"AP" + b"\x00" + b"RR" + b"\x00"
            + b"SM" + bytes(5) + b"TD" + itf8(1) + b"\x00")
    pres_body = itf8(5) + pres
    pres_map = itf8(len(pres_body)) + pres_body
    entries = []
    for key in ("BF", "CF", "RL", "AP", "RG", "TL", "FN", "FC", "FP",
                "MQ", "QS"):
        entries.append(key.encode() + external(CIDS[key]))
    entries.append(b"RN" + stop_enc(CIDS["RN"]))
    entries.append(b"SC" + stop_enc(CIDS["SC"]))
    ser_body = itf8(len(entries)) + b"".join(entries)
    ser_map = itf8(len(ser_body)) + ser_body
    tag_map = itf8(len(itf8(0))) + itf8(0)
    comp = block(1, 0, pres_map + ser_map + tag_map)

    def slice_blocks(ref_id, start, span, recs):
        n = len(recs)
        streams = {
            "BF": itf8(0) * n,
            "CF": itf8(1) * n,
            "RL": itf8(4) * n,
            "AP": b"".join(itf8(p) for _, p, _ in recs),
            "RG": itf8(-1) * n,
            "RN": b"".join(nm.encode() + b"\x00" for nm, _, _ in recs),
            "TL": itf8(0) * n,
            "FN": itf8(1) * n,
            "FC": b"S" * n,
            "FP": itf8(1) * n,
            "SC": b"".join(sq.encode() + b"\x00" for _, _, sq in recs),
            "MQ": itf8(30) * n,
            "QS": bytes([30] * (4 * n)),
        }
        ext = [block(4, CIDS[k], v) for k, v in streams.items()]
        ids = [CIDS[k] for k in streams]
        sl = (itf8(ref_id) + itf8(start) + itf8(span) + itf8(n) + ltf8(0)
              + itf8(len(ext)) + itf8(len(ids))
              + b"".join(itf8(i) for i in ids) + itf8(-1) + bytes(16))
        return [block(2, 0, sl)] + ext

    s1 = slice_blocks(0, 100, 100, [("a1", 100, "AAAA"), ("a2", 150, "CCCC")])
    s2 = slice_blocks(1, 200, 50, [("b1", 200, "GGGG")])
    lm1 = len(comp)
    lm2 = lm1 + sum(len(b) for b in s1)
    data_ct = container(-2, 0, 0, 3, [comp] + s1 + s2, landmarks=(lm1, lm2))

    eof_blk = block(1, 0, itf8(0) * 3)
    eof = container(-1, 4542278, 0, 0, [eof_blk])
    return b"CRAM\x03\x00" + bytes(20) + fh + data_ct + eof


def test_multislice_container(spark, tmp_path):
    from oxbow_spark.sources import register_all

    register_all(spark)
    p = tmp_path / "multislice.cram"
    p.write_bytes(build_multislice_cram())
    rows = sorted(
        (r.qname, r.rname, r.pos, r.cigar, r.seq)
        for r in spark.read.format("cram").load(str(p)).collect()
    )
    assert rows == [
        ("a1", "chr1", 100, "4S", "AAAA"),
        ("a2", "chr1", 150, "4S", "CCCC"),
        ("b1", "chr2", 200, "4S", "GGGG"),
    ]


# ------------------------------------------------------------------
# Columnar slice decode (round 4): the columnar path must equal the
# per-record reference loop record-for-record and actually engage on
# external-coded layouts.
# ------------------------------------------------------------------

def _scan_rows(path: str, force_loop: bool = False, **opts):
    from oxbow_spark.sources import cram as cram_mod
    from oxbow_spark.sources.cram import CramDataSource

    ds = CramDataSource({"path": path, **opts})
    rd = ds.reader(None)
    orig = cram_mod.SliceDecoder._columnar_ok
    if force_loop:
        cram_mod.SliceDecoder._columnar_ok = lambda self, w: False
    try:
        rows = []
        for part in rd.partitions():
            for b in rd.read(part):
                rows.extend(map(tuple, (d.values() for d in b.to_pylist())))
        return rows
    finally:
        cram_mod.SliceDecoder._columnar_ok = orig


def test_columnar_equals_loop_small(cram_path):
    """Hand-crafted slice: multiref, NF mate chain, unmapped BA seq,
    soft clips — columnar ≡ loop."""
    fast = _scan_rows(cram_path)
    slow = _scan_rows(cram_path, force_loop=True)
    assert fast == slow
    assert len(fast) == 3


def test_columnar_equals_loop_big(tmp_path):
    """Feature-rich 5k synthetic (substitutions, clips, deletions,
    insertions, 100bp quals): columnar ≡ loop, and the columnar path
    actually engages."""
    from tests.cram_synth_big import build_big_cram
    from oxbow_spark.sources import cram as cram_mod

    p = tmp_path / "big.cram"
    p.write_bytes(build_big_cram(5000, recs_per_slice=2000))
    engaged = {"n": 0}
    orig = cram_mod.SliceDecoder._records_columnar

    def spy(self, w, arrow=False):
        engaged["n"] += 1
        return orig(self, w, arrow=arrow)

    cram_mod.SliceDecoder._records_columnar = spy
    try:
        fast = _scan_rows(str(p), reference="")
    finally:
        cram_mod.SliceDecoder._records_columnar = orig
    slow = _scan_rows(str(p), force_loop=True, reference="")
    assert engaged["n"] > 0, "columnar path did not engage"
    assert fast == slow
    assert len(fast) == 5000


@needs_checkout
def test_columnar_equals_loop_fixture():
    """Real htslib fixture (const-huffman series, BYTE_ARRAY_LEN BB
    declared-but-unused, tags): equality holds whether a slice decodes
    columnar or bails to the loop."""
    FIX = CHECKOUT
    fast = _scan_rows(f"{FIX}/sample.cram")
    slow = _scan_rows(f"{FIX}/sample.cram", force_loop=True)
    assert fast == slow
    assert len(fast) > 0


def test_itf8_batch_roundtrip():
    """Vectorized batch ITF8 decode ≡ the scalar Cursor reader across
    all length classes, including negatives."""
    from oxbow_spark.sources.cram import Cursor, itf8_batch

    vals = [0, 1, 127, 128, 5000, 16383, 16384, 2**20, 2**27, 2**31 - 1,
            -1, -2, -128, -100000, -(2**31)] * 7
    blob = b"".join(_itf8_of(v) for v in vals)
    got, end = itf8_batch(blob, 0, len(vals))
    assert list(got) == vals
    assert end == len(blob)
    c = Cursor(blob)
    assert [c.itf8() for _ in vals] == vals


def _itf8_of(v: int) -> bytes:
    return itf8(v)


def test_vectorized_assembly_engages_and_matches(tmp_path):
    """Both synthetic profiles must ENGAGE the vectorized cigar/seq
    assembler (no silent bail) and match the per-record `_build` loop
    byte for byte."""
    from tests.cram_synth_big import build_big_cram, build_longread_cram
    from oxbow_spark.sources import cram as cram_mod

    for fname, blob in (("s.cram", build_big_cram(4000, recs_per_slice=2000)),
                        ("l.cram", build_longread_cram(400, recs_per_slice=200))):
        p = tmp_path / fname
        p.write_bytes(blob)
        engaged = {"vec": 0, "bail": 0}
        orig = cram_mod.SliceDecoder._assemble_vec

        def spy(self, *a, **k):
            r = orig(self, *a, **k)
            engaged["vec" if r is not None else "bail"] += 1
            return r

        cram_mod.SliceDecoder._assemble_vec = spy
        try:
            fast = _scan_rows(str(p), reference="")
        finally:
            cram_mod.SliceDecoder._assemble_vec = orig
        assert engaged["vec"] > 0 and engaged["bail"] == 0, engaged

        cram_mod.SliceDecoder._assemble_vec = lambda self, *a, **k: None
        try:
            slow = _scan_rows(str(p), reference="")
        finally:
            cram_mod.SliceDecoder._assemble_vec = orig
        assert fast == slow


def test_arrow_emit_engages_and_matches_loop(tmp_path):
    """The arrow-native emit (records_any → RecordBatch) must engage on
    the synthetic profiles and agree with the per-record loop under
    projections, region filters, and limits."""
    from tests.cram_synth_big import build_big_cram
    from oxbow_spark.sources import cram as cram_mod

    p = tmp_path / "a.cram"
    p.write_bytes(build_big_cram(6000, recs_per_slice=2000))

    engaged = {"arrow": 0, "rows": 0}
    orig = cram_mod.SliceDecoder.records_any

    def spy(self, w):
        k, o = orig(self, w)
        engaged[k] += 1
        return k, o

    cram_mod.SliceDecoder.records_any = spy
    try:
        for opts in (
            {},
            {"fields": "qname,flag,pos,seq"},
            {"regions": "chr1:2000-9000"},
            {"limit": "123"},
            {"regions": "chr1:1500-20000", "fields": "rname,pos,end,cigar"},
            {"coords": "01"},  # coordinate shift through _arrow_shift
            {"coords": "01", "regions": "chr1:2000-9000"},
            {"batch_size": "7"},  # slicing path of the arrow emit
        ):
            engaged.update(arrow=0, rows=0)
            fast = _scan_rows(str(p), reference="", **opts)
            assert engaged["arrow"] > 0, opts
            slow = _scan_rows(str(p), force_loop=True, reference="", **opts)
            if "limit" in opts:  # limit is per-partition row cap: counts only
                assert len(fast) == len(slow)
            else:
                assert fast == slow, opts
    finally:
        cram_mod.SliceDecoder.records_any = orig


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_fuzz_all_feature_types_arrow_equals_loop(tmp_path, seed):
    """Randomized corpora over EVERY feature type, mate shapes and
    presence flags: arrow/vectorized output must equal the per-record
    loop exactly (bail counts as equal by construction — but at least
    one slice per corpus must take the fast path)."""
    from tests.cram_synth_big import build_fuzz_cram
    from oxbow_spark.sources import cram as cram_mod

    p = tmp_path / f"fz{seed}.cram"
    p.write_bytes(build_fuzz_cram(seed))
    engaged = {"arrow": 0, "rows": 0}
    orig = cram_mod.SliceDecoder.records_any

    def spy(self, w):
        k, o = orig(self, w)
        engaged[k] += 1
        return k, o

    cram_mod.SliceDecoder.records_any = spy
    try:
        fast = _scan_rows(str(p), reference="")
    finally:
        cram_mod.SliceDecoder.records_any = orig
    slow = _scan_rows(str(p), force_loop=True, reference="")
    assert fast == slow
    assert engaged["arrow"] > 0, engaged
    assert len(fast) == 800
