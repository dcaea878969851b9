"""Synthetic BCF writer for throughput and regression tests.

Encodes BCF2.2 typed values per the public VCF/BCFv4.x specification §6
(the same layout `sources/bcf.py` decodes; mirrors the fixture semantics
of the reference's `oxbow/src/variant/scanner/bcf.rs` tests). Pure
stdlib — used to build multi-thousand-record files the tiny checked-in
fixture can't provide.
"""

from __future__ import annotations

import struct
import zlib

BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)


def bgzf_block(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    cdata = co.compress(data) + co.flush()
    bsize = len(cdata) + 26
    hdr = (
        b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff"
        + struct.pack("<H", 6) + b"BC" + struct.pack("<HH", 2, bsize - 1)
    )
    return hdr + cdata + struct.pack("<II", zlib.crc32(data) & 0xFFFFFFFF, len(data))


def write_bgzf(path: str, data: bytes, block: int = 60000) -> None:
    with open(path, "wb") as f:
        for i in range(0, len(data), block):
            f.write(bgzf_block(data[i:i + block]))
        f.write(BGZF_EOF)


def typed_int(v: int) -> bytes:
    """Smallest-width typed int scalar."""
    if -120 <= v <= 127:
        return bytes([0x11]) + struct.pack("<b", v)
    if -32000 <= v <= 32767:
        return bytes([0x12]) + struct.pack("<h", v)
    return bytes([0x13]) + struct.pack("<i", v)


def typed_meta(t: int, n: int) -> bytes:
    if n < 15:
        return bytes([(n << 4) | t])
    return bytes([(15 << 4) | t]) + typed_int(n)


def typed_str(s: str) -> bytes:
    b = s.encode()
    return typed_meta(7, len(b)) + b


def typed_i8_vec(vals: list[int]) -> bytes:
    return typed_meta(1, len(vals)) + struct.pack(f"<{len(vals)}b", *vals)


def typed_f32_vec(vals: list[float]) -> bytes:
    return typed_meta(5, len(vals)) + struct.pack(f"<{len(vals)}f", *vals)


_F32_MISSING = 0x7F800001
_F32_EOV = 0x7F800002


def f32_cell_bits(vals: list[float | None], ln: int) -> bytes:
    """One fixed-width float FORMAT cell: values (None → MISSING) padded
    to ``ln`` with EOV, written as raw uint32 bits — the sentinels are
    signaling NaNs that a float pack round-trip would silently quiet."""
    bits = [_F32_MISSING if v is None
            else struct.unpack("<I", struct.pack("<f", v))[0] for v in vals]
    bits += [_F32_EOV] * (ln - len(bits))
    return struct.pack(f"<{ln}I", *bits)


def header_text(samples: list[str]) -> str:
    cols = "\t".join(samples)
    return (
        '##fileformat=VCFv4.3\n'
        '##FILTER=<ID=q10,Description="low qual">\n'
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">\n'
        '##INFO=<ID=AF,Number=A,Type=Float,Description="freq">\n'
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">\n'
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="depth">\n'
        '##FORMAT=<ID=GL,Number=.,Type=Float,Description="likelihoods">\n'
        '##contig=<ID=chr1,length=100000000>\n'
        '##contig=<ID=chr2,length=100000000>\n'
        f'#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{cols}\n'
    )


HEADER = header_text(["s1", "s2"])
# string dictionary: PASS=0, q10=1, DP=2, AF=3, GT=4, GL=5 (order of
# appearance; DP appears once in INFO and again in FORMAT — same id)
_DICT = {"PASS": 0, "q10": 1, "DP": 2, "AF": 3, "GT": 4, "GL": 5}


def make_record(
    rid: int, pos0: int, vid: str, ref: str, alts: list[str],
    qual: float | None, filters: list[str], info_dp: int,
    info_af: list[float],
    gts: list[tuple[int, int, bool]] | None, dps: list[int] | None,
    gls: list[list[float | None]] | None = None,
) -> bytes:
    """One BCF record; gts = per-sample (a0, a1, phased) with allele -1 =
    missing ('.'), dps per-sample; qual None → MISSING float sentinel
    (written as raw bits — 0x7F800001 is a signaling NaN that any float
    round-trip would silently quiet to 0x7FC00001). gls (optional) =
    per-sample float vectors (None value → MISSING cell), EOV-padded to
    the longest vector — the Number=. Type=Float FORMAT case."""
    shared = bytearray()
    n_allele = 1 + len(alts)
    n_sample = len(gts) if gts else 0
    n_info = 2
    n_fmt = (2 + (1 if gls is not None else 0)) if gts else 0
    shared += struct.pack("<iii", rid, pos0, len(ref))
    shared += (struct.pack("<I", 0x7F800001) if qual is None
               else struct.pack("<f", qual))
    shared += struct.pack(
        "<II", (n_allele << 16) | n_info, (n_fmt << 24) | n_sample,
    )
    shared += typed_str(vid)
    shared += typed_str(ref)
    for a in alts:
        shared += typed_str(a)
    shared += typed_i8_vec([_DICT[f] for f in filters])
    shared += typed_int(_DICT["DP"]) + typed_int(info_dp)
    shared += typed_int(_DICT["AF"]) + typed_f32_vec(info_af)

    indiv = bytearray()
    if gts:
        indiv += typed_int(_DICT["GT"])
        indiv += typed_meta(1, 2)
        for a0, a1, ph in gts:
            indiv += struct.pack("<bb", (a0 + 1) << 1, ((a1 + 1) << 1) | int(ph))
        indiv += typed_int(_DICT["DP"])
        indiv += typed_meta(1, 1)
        for d in dps:
            indiv += struct.pack("<b", d)
        if gls is not None:
            ln = max((len(g) for g in gls), default=1) or 1
            indiv += typed_int(_DICT["GL"])
            indiv += typed_meta(5, ln)
            for g in gls:
                indiv += f32_cell_bits(g, ln)

    return struct.pack("<II", len(shared), len(indiv)) + bytes(shared) + bytes(indiv)


def write_bcf(path: str, n_records: int, with_samples: bool = True,
              block: int = 60000) -> None:
    """Deterministic synthetic BCF: records alternate contigs, walk
    positions forward, and cycle alts/filters/quals."""
    text = HEADER.encode() + b"\x00"
    out = bytearray()
    out += b"BCF\x02\x02" + struct.pack("<I", len(text)) + text
    alts_cycle = [["T"], ["T", "G"], ["C"]]
    for i in range(n_records):
        rid = i % 2
        pos0 = (i // 2) * 7
        gts = [(0, 1, False), (1, 1, True)] if with_samples else None
        if with_samples and i % 19 == 0:
            gts = [(-1, -1, False), (0, 0, True)]  # ./. missing alleles
        dps = [10 + i % 50, 20 + i % 30] if with_samples else None
        # edge cycles: 15+ extended-length ID, extended INFO vector,
        # missing qual, empty ('.') FILTER, '.' ID
        vid = f"rs{i}"
        if i % 11 == 0:
            vid = "rs" + "x" * 20 + str(i)  # len >= 15 → extended descriptor
        elif i % 23 == 0:
            vid = "."
        af = [0.5, 0.25][: 1 + i % 2]
        if i % 13 == 0:
            af = [round(0.01 * j, 4) for j in range(20)]  # 15+ floats
        qual = None if i % 7 == 0 else float(i % 100) / 2.0
        filters = [] if i % 17 == 0 else (["PASS"] if i % 5 else ["q10"])
        # float FORMAT (GL) on a cycle: ragged vectors (EOV truncation),
        # MISSING cells, and absent-entirely records
        gls = None
        if with_samples and i % 3 == 0:
            gls = [
                [round(-0.1 * (i % 9 + j), 3) for j in range(1 + i % 3)],
                ([None] if i % 6 == 0
                 else [round(-0.2 * (i % 5 + j), 3) for j in range(2)]),
            ]
        out += make_record(
            rid, pos0, vid, "ACGT"[i % 4], alts_cycle[i % 3],
            qual, filters, 30 + i % 40, af, gts, dps, gls,
        )
    write_bgzf(path, bytes(out), block)


def write_bcf_wide(path: str, n_records: int, n_samples: int = 96,
                   block: int = 60000) -> None:
    """Wide synthetic BCF (many samples): int (DP) and float (GL) FORMAT
    slabs of 96 cells a record, with EOV-truncated and MISSING cells
    sprinkled per sample."""
    samples = [f"w{j}" for j in range(n_samples)]
    text = header_text(samples).encode() + b"\x00"
    out = bytearray()
    out += b"BCF\x02\x02" + struct.pack("<I", len(text)) + text
    for i in range(n_records):
        gts = [((i + j) % 3 - 1 if (i + j) % 19 == 0 else (i + j) % 2,
                (i + j + 1) % 2, bool(j % 2)) for j in range(n_samples)]
        dps = [(i * 7 + j * 3) % 120 for j in range(n_samples)]
        gls = []
        for j in range(n_samples):
            if (i + j) % 11 == 0:
                gls.append([None])             # MISSING cell, EOV-padded
            else:
                k = 1 + (i + j) % 3            # ragged → EOV truncation
                gls.append([round(-0.05 * (j % 17 + m), 3) for m in range(k)])
        out += make_record(
            i % 2, (i // 2) * 11, f"rw{i}", "ACGT"[i % 4], ["T"],
            float(i % 60), ["PASS"], 25 + i % 30, [0.125], gts, dps, gls,
        )
    write_bgzf(path, bytes(out), block)


def i8_cells(cells: list[list[int | None]], width: int) -> bytes:
    """A FORMAT value of int8 cells, one per sample: None → MISSING,
    short cells EOV-padded to ``width``."""
    out = bytearray(typed_meta(1, width))
    for c in cells:
        out += struct.pack(f"<{width}b", *[-128 if v is None else v for v in c],
                           *[-127] * (width - len(c)))
    return bytes(out)


def str_cells(cells: list[str]) -> bytes:
    """A FORMAT value of char cells, NUL-padded to the widest one."""
    raw = [c.encode() for c in cells]
    w = max(len(b) for b in raw)
    return typed_meta(7, w) + b"".join(b.ljust(w, b"\x00") for b in raw)


def encoded_record(rid: int, pos0: int, ref: str, alts: list[str],
                   info: list[tuple[int, bytes]], fmt: list[tuple[int, bytes]],
                   n_sample: int) -> bytes:
    """One record from encoded pieces: ``info`` and ``fmt`` are
    (dictionary id, typed value) pairs in wire order, so keys may repeat
    or change order from record to record. ID '.', QUAL missing, PASS."""
    shared = bytearray(struct.pack("<iiiI", rid, pos0, len(ref), _F32_MISSING))
    shared += struct.pack("<II", ((1 + len(alts)) << 16) | len(info),
                          (len(fmt) << 24) | n_sample)
    shared += typed_str(".")
    for a in [ref, *alts]:
        shared += typed_str(a)
    shared += typed_i8_vec([0])
    for k, v in info:
        shared += typed_int(k) + v
    indiv = b"".join(typed_int(k) + v for k, v in fmt)
    return struct.pack("<II", len(shared), len(indiv)) + bytes(shared) + indiv


def write_bcf_records(path: str, header: str, records: list[bytes]) -> None:
    text = header.encode() + b"\x00"
    write_bgzf(path, b"BCF\x02\x02" + struct.pack("<I", len(text)) + text
               + b"".join(records))
