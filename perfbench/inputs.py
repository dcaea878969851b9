"""Seeded benchmark inputs, written without the program under test.

The BAM (+ .bai), VCF.gz (+ .tbi) and BCF (+ .csi) files are encoded here
with numpy and zlib, so a defect in the program's own writers cannot hide
in its inputs: every output check compares against the arrays returned
alongside the files (the generator's truth). Every record has a fixed
byte layout, which keeps encoding vectorised and generation fast.

Inputs are cached under ``<cache>/<name>-<key>`` where the key hashes
(seed, size, the source of this file).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

#: contig name → length; chr1 covers the reference notebook's 1-8 Mb window
CONTIGS = (("chr1", 10_000_000), ("chr2", 8_000_000),
           ("chr3", 6_000_000), ("chr4", 4_000_000))
READ_LEN = 100
SAMPLES = tuple(f"S{i}" for i in range(1, 9))

_BLOCK = 0xFF00  # BGZF payload per block, as htslib writes it
BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000")
_BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
_NIBBLE = np.array([1, 2, 4, 8], dtype=np.uint8)  # A C G T in BAM 4-bit code


# --------------------------------------------------------------- BGZF


def _bgzf_block(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    comp = co.compress(data) + co.flush()
    head = (b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff\x06\x00BC\x02\x00"
            + struct.pack("<H", len(comp) + 25))
    return head + comp + struct.pack("<II", zlib.crc32(data), len(data))


class _Bgzf:
    """A BGZF stream of a header (own blocks) followed by a record body,
    with the virtual offset of any body byte."""

    def __init__(self, header: bytes, body: bytes):
        with ThreadPoolExecutor(4) as ex:  # zlib releases the GIL
            hb = list(ex.map(_bgzf_block, _chunks(header)))
            bb = list(ex.map(_bgzf_block, _chunks(body)))
        self.blocks = hb + bb
        sizes = np.array([len(b) for b in bb], dtype=np.int64)
        # compressed offset of each body block, plus one past the last
        self._coff = sum(len(b) for b in hb) + np.concatenate(
            ([0], np.cumsum(sizes)))

    def voffset(self, u: np.ndarray) -> np.ndarray:
        u = np.asarray(u, dtype=np.int64)
        return ((self._coff[u // _BLOCK] << 16) | (u % _BLOCK)).astype(np.uint64)

    def write(self, path: str) -> None:
        with open(path, "wb") as f:
            f.writelines(self.blocks)
            f.write(BGZF_EOF)


def _chunks(data: bytes):
    return [data[i:i + _BLOCK] for i in range(0, len(data), _BLOCK)]


def bgzf_bytes(payload: bytes) -> bytes:
    return b"".join(_bgzf_block(c) for c in _chunks(payload)) + BGZF_EOF


# --------------------------------------------------------------- indexes


def reg2bin(beg: np.ndarray, end: np.ndarray) -> np.ndarray:
    """SAM spec §5.3 reg2bin over 0-based half-open intervals, vectorised."""
    last = end - 1
    out = np.zeros(len(beg), dtype=np.int64)
    todo = np.ones(len(beg), dtype=bool)
    for shift, first in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        m = todo & ((beg >> shift) == (last >> shift))
        out[m] = first + (beg[m] >> shift)
        todo &= ~m
    return out


@dataclass
class RefIndex:
    bins: dict[int, list[tuple[int, int]]]   # bin → [(vstart, vend)]
    loffsets: dict[int, int]                 # bin → min vstart in the bin
    linear: np.ndarray                       # 16 kb windows → min vstart


def ref_index(beg, end, vs, ve) -> RefIndex:
    """Bins, chunks and the linear index of one reference's records, given
    in file order. A chunk is a run of file-adjacent records in one bin."""
    n = len(beg)
    bins = reg2bin(beg, end)
    order = np.lexsort((np.arange(n), bins))
    b = bins[order]
    new = np.ones(n, dtype=bool)
    new[1:] = (b[1:] != b[:-1]) | (order[1:] != order[:-1] + 1)
    firsts = np.flatnonzero(new)
    lasts = np.append(firsts[1:], n) - 1
    out: dict[int, list[tuple[int, int]]] = {}
    for bn, cb, ce in zip(b[firsts].tolist(), vs[order[firsts]].tolist(),
                          ve[order[lasts]].tolist()):
        out.setdefault(bn, []).append((cb, ce))
    loff = {bn: cs[0][0] for bn, cs in out.items()}
    w0, w1 = beg >> 14, (end - 1) >> 14
    lin = np.full(int(w1.max()) + 1, np.iinfo(np.uint64).max, dtype=np.uint64)
    np.minimum.at(lin, w0, vs)
    np.minimum.at(lin, w1, vs)  # reads here span at most two windows
    seen = lin != np.iinfo(np.uint64).max
    fill = np.maximum.accumulate(np.where(seen, np.arange(len(lin)), -1))
    lin = np.where(fill >= 0, lin[np.maximum(fill, 0)], 0).astype(np.uint64)
    return RefIndex(out, loff, lin)


def _bai_body(refs: list[RefIndex]) -> bytes:
    out = []
    for r in refs:
        out.append(struct.pack("<i", len(r.bins)))
        for bn in sorted(r.bins):
            out.append(struct.pack("<Ii", bn, len(r.bins[bn])))
            out.append(np.array(r.bins[bn], dtype="<u8").tobytes())
        out.append(struct.pack("<i", len(r.linear)) + r.linear.astype("<u8").tobytes())
    out.append(struct.pack("<Q", 0))  # n_no_coor
    return b"".join(out)


def bai_bytes(refs: list[RefIndex]) -> bytes:
    return b"BAI\x01" + struct.pack("<i", len(refs)) + _bai_body(refs)


def tbi_bytes(refs: list[RefIndex], names: list[str]) -> bytes:
    nm = b"".join(n.encode() + b"\x00" for n in names)
    # VCF preset: format 2, seq col 1, beg col 2, end col 0, meta '#'
    head = b"TBI\x01" + struct.pack("<8i", len(refs), 2, 1, 2, 0, 35, 0, len(nm))
    return bgzf_bytes(head + nm + _bai_body(refs))


def csi_bytes(refs: list[RefIndex]) -> bytes:
    out = [b"CSI\x01", struct.pack("<4i", 14, 5, 0, len(refs))]
    for r in refs:
        out.append(struct.pack("<i", len(r.bins)))
        for bn in sorted(r.bins):
            out.append(struct.pack("<IQi", bn, r.loffsets[bn], len(r.bins[bn])))
            out.append(np.array(r.bins[bn], dtype="<u8").tobytes())
    out.append(struct.pack("<Q", 0))
    return bgzf_bytes(b"".join(out))


def _indexes(cid, beg, end, vs, ve) -> list[RefIndex]:
    refs = []
    for c in range(len(CONTIGS)):
        m = cid == c
        refs.append(ref_index(beg[m], end[m], vs[m], ve[m]))
    return refs


# --------------------------------------------------------------- truth


def _sorted_positions(rng, n: int, unique: bool):
    """n positions (1-based) over CONTIGS in proportion to length, sorted
    by (contig, pos); with ``unique`` duplicates are dropped."""
    lens = np.array([ln for _, ln in CONTIGS], dtype=np.int64)
    counts = rng.multinomial(n, lens / lens.sum())
    cid, pos = [], []
    for c, (k, ln) in enumerate(zip(counts, lens)):
        p = np.sort(rng.integers(1, ln - READ_LEN, size=k))
        if unique:
            p = np.unique(p)
        cid.append(np.full(len(p), c, dtype=np.int64))
        pos.append(p.astype(np.int64))
    return np.concatenate(cid), np.concatenate(pos)


def _digits(x: np.ndarray, width: int) -> np.ndarray:
    """Zero-padded decimal ASCII of non-negative ints, one row per value."""
    p = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    return ((x[:, None] // p) % 10 + 48).astype(np.uint8)


# --------------------------------------------------------------- BAM

_BAM_REC = np.dtype([
    ("block_size", "<i4"), ("ref_id", "<i4"), ("pos", "<i4"),
    ("l_read_name", "u1"), ("mapq", "u1"), ("bin", "<u2"),
    ("n_cigar", "<u2"), ("flag", "<u2"), ("l_seq", "<i4"),
    ("next_ref", "<i4"), ("next_pos", "<i4"), ("tlen", "<i4"),
    ("qname", "u1", (11,)), ("cigar", "<u4"),
    ("seq", "u1", (READ_LEN // 2,)), ("qual", "u1", (READ_LEN,)),
])


def sam_header_text() -> str:
    return "@HD\tVN:1.6\tSO:coordinate\n" + "".join(
        f"@SQ\tSN:{n}\tLN:{ln}\n" for n, ln in CONTIGS)


def bam_truth(seed: int, n_reads: int) -> dict[str, np.ndarray]:
    """Coordinate-sorted 100 bp single-end reads: cid (contig index), pos
    (1-based), qid (the qname is ``q%09d``), mapq, flag, seq and qual."""
    rng = np.random.default_rng(seed)
    cid, pos = _sorted_positions(rng, n_reads, unique=False)
    n = len(pos)
    return {
        "cid": cid, "pos": pos, "qid": rng.permutation(n).astype(np.int64),
        "mapq": rng.integers(0, 61, size=n),
        "flag": rng.choice(np.array([0, 16]), size=n),
        "seq": rng.integers(0, 4, size=(n, READ_LEN), dtype=np.uint8),
        "qual": (rng.integers(25, 38, size=(n, 1))
                 + (np.arange(READ_LEN) // 25 % 3)).astype(np.uint8),
    }


def write_bam(path: str, t: dict[str, np.ndarray]) -> np.ndarray:
    """BAM + ``.bai`` of the truth arrays; returns each record's virtual
    offset."""
    cid, pos = t["cid"], t["pos"]
    n = len(pos)
    rec = np.zeros(n, dtype=_BAM_REC)
    rec["block_size"] = _BAM_REC.itemsize - 4
    rec["ref_id"] = cid
    rec["pos"] = pos - 1
    rec["l_read_name"] = 11
    rec["mapq"] = t["mapq"]
    rec["bin"] = reg2bin(pos - 1, pos - 1 + READ_LEN)
    rec["n_cigar"] = 1
    rec["flag"] = t["flag"]
    rec["l_seq"] = READ_LEN
    rec["next_ref"] = -1
    rec["next_pos"] = -1
    rec["qname"][:, 0] = ord("q")
    rec["qname"][:, 1:10] = _digits(t["qid"], 9)
    rec["cigar"] = (READ_LEN << 4) | 0  # 100M
    codes = _NIBBLE[t["seq"]]
    rec["seq"] = (codes[:, 0::2] << 4) | codes[:, 1::2]
    rec["qual"] = t["qual"]
    text = sam_header_text().encode()
    header = b"BAM\x01" + struct.pack("<i", len(text)) + text + struct.pack(
        "<i", len(CONTIGS))
    for nm, ln in CONTIGS:
        header += struct.pack("<i", len(nm) + 1) + nm.encode() + b"\x00" + \
            struct.pack("<i", ln)
    stream = _Bgzf(header, rec.tobytes())
    u = np.arange(n + 1, dtype=np.int64) * _BAM_REC.itemsize
    v = stream.voffset(u)
    stream.write(path)
    refs = _indexes(cid, pos - 1, pos - 1 + READ_LEN, v[:-1], v[1:])
    with open(path + ".bai", "wb") as f:
        f.write(bai_bytes(refs))
    return v[:-1]


# --------------------------------------------------------------- VCF / BCF


def vcf_header_text() -> str:
    lines = [
        "##fileformat=VCFv4.2",
        '##FILTER=<ID=PASS,Description="All filters passed">',
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">',
        '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
    ]
    lines += [f"##contig=<ID={n},length={ln}>" for n, ln in CONTIGS]
    lines.append("#" + "\t".join(
        ["CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
         "FORMAT", *SAMPLES]))
    return "\n".join(lines) + "\n"


_GT_TEXT = ("0/0", "0/1", "1/1", "0|1")
# BCF GT cells: (allele + 1) << 1 | phased, second allele carries the phase
_GT_BCF = np.array([[2, 2], [2, 4], [4, 4], [2, 5]], dtype=np.int8)


def variant_truth(seed: int, n_sites: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    cid, pos = _sorted_positions(rng, n_sites, unique=True)
    n = len(pos)
    ref = rng.integers(0, 4, size=n)
    alt = (ref + rng.integers(1, 4, size=n)) % 4
    return {
        "cid": cid, "pos": pos, "ref": _BASES[ref], "alt": _BASES[alt],
        "rsid": rng.permutation(n).astype(np.int64),
        "qual": rng.integers(10, 100, size=n),
        "dp": rng.integers(10, 500, size=n),
        "af": rng.integers(1, 1000, size=n),          # AF = af / 1000
        "gt": rng.integers(0, 4, size=(n, len(SAMPLES))),
        "sdp": rng.integers(0, 100, size=(n, len(SAMPLES))),
    }


def write_vcf(path: str, t: dict[str, np.ndarray]) -> np.ndarray:
    """Bgzipped VCF + ``.tbi`` of the truth arrays; returns each line's
    virtual offset."""
    names = [n for n, _ in CONTIGS]
    lines = []
    for i in range(len(t["pos"])):
        samples = "\t".join(f"{_GT_TEXT[g]}:{d}"
                            for g, d in zip(t["gt"][i], t["sdp"][i]))
        lines.append(
            f"{names[t['cid'][i]]}\t{t['pos'][i]}\trs{t['rsid'][i]:08d}\t"
            f"{chr(t['ref'][i])}\t{chr(t['alt'][i])}\t{t['qual'][i]}\tPASS\t"
            f"DP={t['dp'][i]};AF={t['af'][i] / 1000:.3f}\tGT:DP\t{samples}\n")
    body = "".join(lines).encode()
    starts = np.concatenate(([0], np.cumsum([len(s) for s in lines])))
    stream = _Bgzf(vcf_header_text().encode(), body)
    v = stream.voffset(starts)
    stream.write(path)
    refs = _indexes(t["cid"], t["pos"] - 1, t["pos"], v[:-1], v[1:])
    with open(path + ".tbi", "wb") as f:
        f.write(tbi_bytes(refs, names))
    return v[:-1]


def _typed(n: int, typ: int) -> int:
    return (n << 4) | typ


_NS = len(SAMPLES)
_BCF_REC = np.dtype([
    ("l_shared", "<u4"), ("l_indiv", "<u4"),
    ("chrom", "<i4"), ("pos", "<i4"), ("rlen", "<i4"), ("qual", "<f4"),
    ("n_allele_info", "<u4"), ("n_fmt_sample", "<u4"),
    ("id_t", "u1"), ("id", "u1", (10,)),
    ("ref_t", "u1"), ("ref", "u1"), ("alt_t", "u1"), ("alt", "u1"),
    ("filt_t", "u1"), ("filt", "u1"),
    ("dp_k", "u1", (2,)), ("dp_t", "u1"), ("dp", "<i2"),
    ("af_k", "u1", (2,)), ("af_t", "u1"), ("af", "<f4"),
    ("gt_k", "u1", (2,)), ("gt_t", "u1"), ("gt", "i1", (_NS, 2)),
    ("sdp_k", "u1", (2,)), ("sdp_t", "u1"), ("sdp", "<i2", (_NS,)),
])
_BCF_INDIV = 2 * (3 + 2 * _NS)  # GT and DP: key (2) + type (1) + cells


def write_bcf(path: str, t: dict[str, np.ndarray]) -> np.ndarray:
    """BCF 2.2 + ``.csi`` of the truth arrays; returns each record's
    virtual offset. String dictionary: PASS 0, DP 1, AF 2, GT 3 (header
    order)."""
    n = len(t["pos"])
    r = np.zeros(n, dtype=_BCF_REC)
    r["l_shared"] = _BCF_REC.itemsize - 8 - _BCF_INDIV
    r["l_indiv"] = _BCF_INDIV
    r["chrom"] = t["cid"]
    r["pos"] = t["pos"] - 1
    r["rlen"] = 1
    r["qual"] = t["qual"]
    r["n_allele_info"] = (2 << 16) | 2
    r["n_fmt_sample"] = (2 << 24) | _NS
    r["id_t"] = _typed(10, 7)
    r["id"][:, :2] = np.frombuffer(b"rs", dtype=np.uint8)
    r["id"][:, 2:] = _digits(t["rsid"], 8)
    r["ref_t"] = r["alt_t"] = _typed(1, 7)
    r["ref"], r["alt"] = t["ref"], t["alt"]
    r["filt_t"] = _typed(1, 1)
    key = lambda k: np.array([_typed(1, 1), k], dtype=np.uint8)  # noqa: E731
    r["dp_k"], r["dp_t"], r["dp"] = key(1), _typed(1, 2), t["dp"]
    r["af_k"], r["af_t"], r["af"] = key(2), _typed(1, 5), t["af"] / 1000
    r["gt_k"], r["gt_t"], r["gt"] = key(3), _typed(2, 1), _GT_BCF[t["gt"]]
    r["sdp_k"], r["sdp_t"], r["sdp"] = key(1), _typed(1, 2), t["sdp"]
    text = vcf_header_text().encode() + b"\x00"
    stream = _Bgzf(b"BCF\x02\x02" + struct.pack("<I", len(text)) + text,
                   r.tobytes())
    v = stream.voffset(np.arange(n + 1, dtype=np.int64) * _BCF_REC.itemsize)
    stream.write(path)
    refs = _indexes(t["cid"], t["pos"] - 1, t["pos"], v[:-1], v[1:])
    with open(path + ".csi", "wb") as f:
        f.write(csi_bytes(refs))
    return v[:-1]


# --------------------------------------------------------------- cache


def _source_hash(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def cached(cache: str, name: str, seed: int, size, build):
    """Run ``build(dir)`` once per (seed, size, generator source). ``build``
    writes the input files and returns arrays (record virtual offsets) that
    are kept beside them. Returns (dir, arrays, gen_s), with gen_s 0.0 on a
    cache hit. The truth itself is recomputed from the seed."""
    key = hashlib.sha256(json.dumps(
        [name, seed, size, _source_hash(__file__)]).encode()).hexdigest()[:16]
    d = os.path.join(cache, f"{name}-{key}")
    done = os.path.join(d, "offsets.npz")
    if not os.path.exists(done):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        np.savez(os.path.join(tmp, "offsets.npz"), **build(tmp))
        gen_s = time.perf_counter() - t0
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    else:
        gen_s = 0.0
    with np.load(done) as z:
        return d, {k: z[k] for k in z.files}, gen_s
