"""CRAM DataSource: ``spark.read.format("cram")``.

Parity: reference CRAM scanner (`oxbow/src/alignment/scanner/cram.rs:182-200,
568-611`, SURVEY S3) — same alignment schema as SAM/BAM (SURVEY §1.2). The
decoder is a from-scratch pure-Python implementation of the public CRAM 3.0
specification (hts-specs): ITF8/LTF8 varints, container/slice structure,
EXTERNAL / HUFFMAN / BYTE_ARRAY_LEN / BYTE_ARRAY_STOP / BETA codecs with a
core-block bit reader, gzip/bzip2/lzma block compression plus a pure-Python
rANS 4x8 (order 0 and 1) decoder, CIGAR+sequence reconstruction from read
features via the substitution matrix, and embedded or external (FASTA+fai)
reference bases.

Scale design: the unit of parallelism is the **container** — CRAM's own
independently-decodable chunk (analogous to the reference's
`partition_from_index` contract, SURVEY D1). ``partitions()`` walks container
headers only (cheap driver-side scan: read 4-byte length + header varints,
seek past the body) and emits one InputPartition per data container; each
executor re-opens the file and decodes only its containers. Region queries
prune partitions by the container header's (ref, start, span) before any
block is read, with its records masked by `coords.region_mask`
(SURVEY F1).

Options: ``fields``, ``coords``, ``regions``, ``tags`` ('scan' reads the tag
dictionary from container compression headers), ``reference`` (FASTA path
with .fai, required when slices neither embed reference bases nor set RR=0),
``batch_size``, ``limit``.
"""

from __future__ import annotations

import bz2
import gzip
import lzma
import os
import struct
import zlib

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema

from oxbow_spark import coords as _coords
from oxbow_spark.models.sam_header import (
    STANDARD_FIELD_NAMES,
    STANDARD_FIELDS,
    SamHeader,
    TagDef,
    tags_struct,
)
from oxbow_spark.sources.base import (
    DEFAULT_BATCH_SIZE,
    GenomicStreamMixin,
    select_fields,
)
from oxbow_spark.sources.pushdown import region_from_filters
from oxbow_spark.sources.sequence import faidx_fetch, read_fai

from oxbow_spark.sources import fsio

CRAM_MAGIC = b"CRAM"
# full 12-column standard schema for the arrow-native emit path (the
# reader projects by name afterwards)
_STD_ARROW = to_arrow_schema(
    T.StructType([T.StructField(n, t) for n, t in STANDARD_FIELDS]))


def _arrow_shift(batch, col_idx, offset):
    """Add ``offset`` to the given integer columns, nulls preserved,
    type kept."""
    cols = list(batch.columns)
    for i in col_idx:
        cols[i] = pc.add(cols[i], pa.scalar(offset, cols[i].type))
    return pa.RecordBatch.from_arrays(cols, schema=batch.schema)
# phred+33 rendering table (quality byte → printable char, one translate)
_PHRED33 = bytes((i + 33) & 0xFF for i in range(256))
# cigar token caches for the vectorized assembler
_DEC_CACHE = tuple(str(i) for i in range(4096))
_CHR_CACHE = tuple(chr(i) for i in range(256))
BASES = "ACGTN"
# container headers (incl. multi-slice landmark arrays) comfortably fit here
_HDR_BUF = 8192


# --------------------------------------------------------------- primitives

class Cursor:
    """Byte cursor with CRAM varint readers (ITF8 = int32, LTF8 = int64)."""

    __slots__ = ("b", "p")

    def __init__(self, b: bytes, p: int = 0):
        self.b = b
        self.p = p

    def read(self, n: int) -> bytes:
        v = self.b[self.p:self.p + n]
        self.p += n
        return v

    def u8(self) -> int:
        v = self.b[self.p]
        self.p += 1
        return v

    def itf8(self) -> int:
        # hot path: locals instead of repeated self.u8() attr lookups
        b = self.b
        p = self.p
        v = b[p]
        if v < 0x80:
            self.p = p + 1
            return v
        if v < 0xC0:
            r = ((v & 0x7F) << 8) | b[p + 1]
            self.p = p + 2
        elif v < 0xE0:
            r = ((v & 0x3F) << 16) | (b[p + 1] << 8) | b[p + 2]
            self.p = p + 3
        elif v < 0xF0:
            r = ((v & 0x1F) << 24) | (b[p + 1] << 16) | (b[p + 2] << 8) | b[p + 3]
            self.p = p + 4
        else:
            r = (((v & 0x0F) << 28) | (b[p + 1] << 20) | (b[p + 2] << 12)
                 | (b[p + 3] << 4) | (b[p + 4] & 0x0F))
            self.p = p + 5
        return r - (1 << 32) if r >= 1 << 31 else r

    def ltf8(self) -> int:
        v = self.u8()
        n = 0
        while n < 8 and (v << n) & 0x80:
            n += 1
        r = v & (0xFF >> (n + 1)) if n < 7 else 0
        for _ in range(n):
            r = (r << 8) | self.u8()
        return r - (1 << 64) if r >= 1 << 63 else r

    def arr(self) -> list[int]:
        n = self.itf8()
        return [self.itf8() for _ in range(n)]


# byte-value → ITF8 encoded length (prefix bits of the first byte)
_ITF8_LEN = [1] * 256
for _b in range(256):
    if _b >= 0xF0:
        _ITF8_LEN[_b] = 5
    elif _b >= 0xE0:
        _ITF8_LEN[_b] = 4
    elif _b >= 0xC0:
        _ITF8_LEN[_b] = 3
    elif _b >= 0x80:
        _ITF8_LEN[_b] = 2


def itf8_batch(buf: bytes, start: int, count: int):
    """Decode ``count`` consecutive ITF8 values from ``buf`` at
    ``start`` → (int64 ndarray, end offset). The value START positions
    need a sequential walk (each length depends on its first byte — a
    table lookup and an add per value); the VALUE decode is then one
    numpy gather per length class. ~6× the per-value `Cursor.itf8` path.
    """
    import numpy as np

    if count == 0:
        return np.empty(0, np.int64), start
    starts = np.empty(count + 1, np.int64)
    p = start
    L = _ITF8_LEN
    for i in range(count):
        starts[i] = p
        p += L[buf[p]]
    starts[count] = p
    if p > len(buf):
        raise ValueError("ITF8 batch overruns stream")
    a = np.frombuffer(buf, np.uint8).astype(np.int64)
    s = starts[:-1]
    b0 = a[s]
    lens = np.diff(starts)
    v = b0.copy()
    for ln, mask_bits in ((2, 0x7F), (3, 0x3F), (4, 0x1F), (5, 0x0F)):
        m = lens == ln
        if not m.any():
            continue
        sm = s[m]
        r = a[sm] & mask_bits
        for k in range(1, ln):
            last = k == ln - 1 and ln == 5
            r = (r << (4 if last else 8)) | (
                a[sm + k] & (0x0F if last else 0xFF)
            )
        v[m] = r
    v = np.where(v >= 1 << 31, v - (1 << 32), v)
    return v, p


def stop_bounds(buf: bytes, start: int, count: int, stop: int):
    """(starts, ends, end offset) of ``count`` stop-terminated byte
    strings from ``buf`` at ``start`` — one numpy scan instead of a
    per-string index loop."""
    import numpy as np

    if count == 0:
        e = np.empty(0, np.int64)
        return e, e, start
    a = np.frombuffer(buf, np.uint8)
    hits = np.flatnonzero(a[start:] == stop)
    if len(hits) < count:
        raise ValueError("unterminated BYTE_ARRAY_STOP stream")
    ends = hits[:count] + start
    starts = np.concatenate(([start], ends[:-1] + 1))
    return starts, ends, int(ends[-1]) + 1


class BitReader:
    """MSB-first bit reader over the slice core block."""

    __slots__ = ("b", "pos")

    def __init__(self, b: bytes):
        self.b = b
        self.pos = 0

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.b[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v


# ------------------------------------------------------------------ rANS 4x8

def _rans_read_freqs0(c: Cursor) -> tuple[list[int], list[int]]:
    """Order-0 frequency table (normalized to 4096): RLE'd ascending
    symbols, 1- or 2-byte frequencies (top bit of first byte selects)."""
    freq = [0] * 256
    sym = c.u8()
    last = -2
    rle = 0
    while True:
        if (f0 := c.u8()) & 0x80:
            freq[sym] = ((f0 & 0x7F) << 8) | c.u8()
        else:
            freq[sym] = f0
        if rle:
            rle -= 1
            sym += 1
        else:
            last = sym
            sym = c.u8()
            if sym == last + 1:
                rle = c.u8()
            if sym == 0 and rle == 0:
                break
    cum = [0] * 257
    for i in range(256):
        cum[i + 1] = cum[i] + freq[i]
    return freq, cum


def _rans_lookup(freq: list[int], cum: list[int], bits: int = 12) -> bytes:
    lut = bytearray(1 << bits)
    for s in range(256):
        if freq[s]:
            lut[cum[s]:cum[s + 1]] = bytes([s]) * freq[s]
    return bytes(lut)


def rans4x8_decode(data: bytes) -> bytes:
    """Pure-Python rANS 4x8 decoder (CRAM 3.0 spec §13), orders 0 and 1."""
    c = Cursor(data)
    order = c.u8()
    c.read(4)  # compressed size (redundant with block header)
    (n_out,) = struct.unpack("<I", c.read(4))
    out = bytearray(n_out)
    if order == 0:
        freq, cum = _rans_read_freqs0(c)
        lut = _rans_lookup(freq, cum)
        R = list(struct.unpack("<4I", c.read(16)))
        for i in range(n_out):
            j = i & 3
            m = R[j] & 0xFFF
            s = lut[m]
            out[i] = s
            R[j] = freq[s] * (R[j] >> 12) + m - cum[s]
            while R[j] < (1 << 23) and c.p < len(data):
                R[j] = (R[j] << 8) | c.u8()
        return bytes(out)
    if order != 1:
        raise ValueError(f"unknown rANS order {order}")
    # order-1: context tables for each preceding symbol, RLE'd like order-0
    tables: dict[int, tuple[list[int], list[int], bytes]] = {}
    sym = c.u8()
    last = -2
    rle = 0
    while True:
        f, cm = _rans_read_freqs0(c)
        tables[sym] = (f, cm, _rans_lookup(f, cm))
        if rle:
            rle -= 1
            sym += 1
        else:
            last = sym
            sym = c.u8()
            if sym == last + 1:
                rle = c.u8()
            if sym == 0 and rle == 0:
                break
    R = list(struct.unpack("<4I", c.read(16)))
    q = n_out >> 2
    ctx = [0, 0, 0, 0]
    pos = [0, q, 2 * q, 3 * q]
    for _ in range(q):
        for j in range(4):
            f, cm, lut = tables[ctx[j]]
            m = R[j] & 0xFFF
            s = lut[m]
            out[pos[j]] = s
            pos[j] += 1
            R[j] = f[s] * (R[j] >> 12) + m - cm[s]
            while R[j] < (1 << 23) and c.p < len(data):
                R[j] = (R[j] << 8) | c.u8()
            ctx[j] = s
    # remainder handled by state 3
    j = 3
    while pos[j] < n_out:
        f, cm, lut = tables[ctx[j]]
        m = R[j] & 0xFFF
        s = lut[m]
        out[pos[j]] = s
        pos[j] += 1
        R[j] = f[s] * (R[j] >> 12) + m - cm[s]
        while R[j] < (1 << 23) and c.p < len(data):
            R[j] = (R[j] << 8) | c.u8()
        ctx[j] = s
    return bytes(out)


# ------------------------------------------------------------- rANS Nx16

def _uint7(c: Cursor) -> int:
    """CRAM 3.1 variable-size uint: 7 bits per byte MSB-first, top bit =
    continuation."""
    v = 0
    while True:
        b = c.u8()
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v


def _nx16_read_alphabet(c: Cursor) -> list[int]:
    syms = []
    rle = 0
    sym = c.u8()
    last = -2
    while True:
        syms.append(sym)
        if rle > 0:
            rle -= 1
            sym += 1
        else:
            last = sym
            sym = c.u8()
            if sym == last + 1:
                rle = c.u8()
        if sym == 0 and rle == 0:
            break
    return syms


def _nx16_unpack(packed: bytes, syms: list[int], n_out: int) -> bytes:
    """PACK transform inverse: 1/2/4-bit codes → symbol bytes, LSB-first."""
    nsym = len(syms)
    out = bytearray(n_out)
    if nsym <= 1:
        return bytes([syms[0] if syms else 0]) * n_out
    if nsym <= 2:
        bits, per = 1, 8
    elif nsym <= 4:
        bits, per = 2, 4
    else:
        bits, per = 4, 2
    mask = (1 << bits) - 1
    i = 0
    for b in packed:
        for _ in range(per):
            if i >= n_out:
                break
            out[i] = syms[b & mask]
            b >>= bits
            i += 1
    return bytes(out)


def _nx16_norm_freqs(raw_f: dict[int, int], bits: int) -> tuple[list[int], list[int]]:
    """(freq, cum) arrays normalized to sum 1<<bits. Stored tables are
    already normalized in practice; rescale defensively, keeping present
    symbols >= 1."""
    M = 1 << bits
    syms = list(raw_f)
    tot = sum(raw_f.values()) or 1
    freq = [0] * 256
    if tot != M:
        acc = 0
        for s in syms:
            freq[s] = max(1, (raw_f[s] * M) // tot)
            acc += freq[s]
        freq[syms[0]] += M - acc
    else:
        for s in syms:
            freq[s] = raw_f[s]
    cum = [0] * 257
    for i in range(256):
        cum[i + 1] = cum[i] + freq[i]
    return freq, cum


def _nx16_entropy0(c: Cursor, n_out: int, n_states: int) -> bytes:
    """Order-0 entropy stage: 12-bit frequencies normalized to 4096,
    n_states interleaved rANS states with 16-bit renormalization;
    state j decodes output positions ≡ j (mod N)."""
    syms = _nx16_read_alphabet(c)
    freq, cum = _nx16_norm_freqs({s: _uint7(c) for s in syms}, 12)
    lut = _rans_lookup(freq, cum)
    R = list(struct.unpack(f"<{n_states}I", c.read(4 * n_states)))
    out = bytearray(n_out)
    mask = n_states - 1  # N is always a power of two (4 or 32)
    for i in range(n_out):
        j = i & mask
        m = R[j] & 0xFFF
        s = lut[m]
        out[i] = s
        R[j] = freq[s] * (R[j] >> 12) + m - cum[s]
        if R[j] < (1 << 15) and c.p + 1 < len(c.b):
            (lo,) = struct.unpack_from("<H", c.b, c.p)
            c.p += 2
            R[j] = (R[j] << 16) | lo
    return bytes(out)


def _nx16_entropy1(c: Cursor, n_out: int, n_states: int) -> bytes:
    """Order-1 entropy stage: per-context frequency rows over a shared
    alphabet, normalized to 1<<shift (shift in the table header's high
    nibble; low bit = the table itself is order-0-rANS compressed). The
    output splits into n_states consecutive fragments, each decoded by one
    state with the previous byte as context (0 at fragment start); the
    last state finishes the remainder."""
    comp = c.u8()
    shift = comp >> 4
    if comp & 1:
        u_sz = _uint7(c)
        c_sz = _uint7(c)
        tc = Cursor(_nx16_entropy0(Cursor(c.read(c_sz)), u_sz, 4))
    else:
        tc = c
    syms = _nx16_read_alphabet(tc)
    tables: dict[int, tuple[list[int], list[int], bytes]] = {}
    for i in syms:
        raw = {j: _uint7(tc) for j in syms}
        if sum(raw.values()) == 0:
            continue  # context never observed
        f, cm = _nx16_norm_freqs(raw, shift)
        tables[i] = (f, cm, _rans_lookup(f, cm, bits=shift))
    R = list(struct.unpack(f"<{n_states}I", c.read(4 * n_states)))
    out = bytearray(n_out)
    q = n_out // n_states
    pos = [j * q for j in range(n_states)]
    ctx = [0] * n_states
    mask = (1 << shift) - 1
    for _ in range(q):
        for j in range(n_states):
            f, cm, lut = tables[ctx[j]]
            m = R[j] & mask
            s = lut[m]
            out[pos[j]] = s
            pos[j] += 1
            R[j] = f[s] * (R[j] >> shift) + m - cm[s]
            if R[j] < (1 << 15) and c.p + 1 < len(c.b):
                (lo,) = struct.unpack_from("<H", c.b, c.p)
                c.p += 2
                R[j] = (R[j] << 16) | lo
            ctx[j] = s
    j = n_states - 1  # remainder positions belong to the last state
    while pos[j] < n_out:
        f, cm, lut = tables[ctx[j]]
        m = R[j] & mask
        s = lut[m]
        out[pos[j]] = s
        pos[j] += 1
        R[j] = f[s] * (R[j] >> shift) + m - cm[s]
        if R[j] < (1 << 15) and c.p + 1 < len(c.b):
            (lo,) = struct.unpack_from("<H", c.b, c.p)
            c.p += 2
            R[j] = (R[j] << 16) | lo
        ctx[j] = s
    return bytes(out)


def _nx16_read_rle_meta(c: Cursor) -> tuple[bytes, int]:
    """(rle metadata blob, entropy-stage output length). The metadata is
    stored raw (low bit of its length set) or order-0-rANS compressed."""
    m = _uint7(c)
    rle_len = _uint7(c)
    if m & 1:
        meta = bytes(c.read(m >> 1))
    else:
        c_meta_len = _uint7(c)
        meta = _nx16_entropy0(Cursor(c.read(c_meta_len)), m >> 1, 4)
    return meta, rle_len


def _nx16_rle_expand(data: bytes, meta: bytes, n_out: int) -> bytes:
    """RLE inverse: run-lengthed symbols are listed in the metadata (count
    byte, 0 → all 256); each occurrence of one in the data stream is
    followed by an extra-repeat count read from the metadata stream."""
    mc = Cursor(meta)
    n = mc.u8() or 256
    rle_syms = frozenset(mc.read(n))
    out = bytearray()
    i = 0
    while len(out) < n_out and i < len(data):
        b = data[i]
        i += 1
        out.append(b)
        if b in rle_syms:
            run = _uint7(mc)
            out.extend(bytes([b]) * run)
    if len(out) != n_out:
        raise ValueError(f"rANS Nx16 RLE expansion: {len(out)} != {n_out}")
    return bytes(out)


def _nx16_stripe(c: Cursor, n_out: int) -> bytes:
    """STRIPE inverse: output byte i comes from substream i mod N; each
    substream is a complete (usually NOSZ) Nx16 stream of its own."""
    n_streams = c.u8()
    clens = [_uint7(c) for _ in range(n_streams)]
    subs = []
    for j in range(n_streams):
        ulen = n_out // n_streams + (1 if j < n_out % n_streams else 0)
        subs.append(rans_nx16_decode(bytes(c.read(clens[j])), n_out=ulen))
    out = bytearray(n_out)
    for j, s in enumerate(subs):
        out[j::n_streams] = s
    return bytes(out)


def rans_nx16_decode(data: bytes, n_out: int | None = None) -> bytes:
    """rANS Nx16 (CRAM 3.1 spec §3; htscodecs wire format) decoder: all
    flag combinations — ORDER (0/1), X32 state count, STRIPE, NOSZ, CAT,
    RLE and PACK. Decode pipeline: entropy (or CAT) → RLE expand → bit
    unpack, with STRIPE recursing into per-lane substreams."""
    c = Cursor(data)
    flags = c.u8()
    order = flags & 1
    if not flags & 0x10:  # NOSZ unset: explicit size
        n_out = _uint7(c)
    if flags & 0x08:  # STRIPE
        if n_out is None:
            raise ValueError("rANS Nx16 NOSZ STRIPE stream needs an expected size")
        return _nx16_stripe(c, n_out)
    n_states = 32 if flags & 0x04 else 4
    pack_syms = None
    n_unpack = None
    if flags & 0x80:  # PACK: bit-unpack stage input length + symbol map
        nsym = c.u8()
        pack_syms = [c.u8() for _ in range(nsym)]
        n_unpack = _uint7(c)
    rle_meta = None
    n_entropy = n_unpack if pack_syms is not None else n_out
    if flags & 0x40:  # RLE: expansion stage metadata + entropy length
        rle_meta, n_entropy = _nx16_read_rle_meta(c)
    if flags & 0x20:  # CAT: payload stored raw
        take = n_entropy if n_entropy is not None else len(c.b) - c.p
        payload = bytes(c.b[c.p:c.p + take])
    elif order:
        payload = _nx16_entropy1(c, n_entropy, n_states)
    else:
        payload = _nx16_entropy0(c, n_entropy, n_states)
    if rle_meta is not None:
        payload = _nx16_rle_expand(
            payload, rle_meta, n_unpack if pack_syms is not None else n_out
        )
    if pack_syms is not None:
        payload = _nx16_unpack(payload, pack_syms, n_out)
    if n_out is not None and len(payload) != n_out:
        raise ValueError(f"rANS Nx16 length mismatch: {len(payload)} != {n_out}")
    return payload


# ----------------------------------------------------------------- blocks

def read_block(c: Cursor) -> tuple[int, int, bytes]:
    """(content_type, content_id, uncompressed bytes); verifies the CRC32
    (CRAM 3.0 blocks checksum everything up to the CRC field — this is
    what rejects the reference's ``malformed.cram`` twin)."""
    blk_start = c.p
    method = c.u8()
    ctype = c.u8()
    cid = c.itf8()
    csize = c.itf8()
    rsize = c.itf8()
    raw = c.read(csize)
    (crc,) = struct.unpack("<I", c.read(4))
    if zlib.crc32(c.b[blk_start:c.p - 4]) != crc:
        raise ValueError("CRAM block CRC32 mismatch (corrupt file)")
    if method == 0:
        pass
    elif method == 1:
        raw = zlib.decompress(raw, 31)
    elif method == 2:
        raw = bz2.decompress(raw)
    elif method == 3:
        raw = lzma.decompress(raw)
    elif method == 4:
        raw = rans4x8_decode(raw)
    elif method == 5:
        raw = rans_nx16_decode(raw)
    elif method == 6:
        from oxbow_spark.sources.cram_codecs import arith_decode

        raw = arith_decode(raw)
    elif method == 7:
        from oxbow_spark.sources.cram_codecs import fqz_decode

        raw = fqz_decode(raw, rsize)
    elif method == 8:
        from oxbow_spark.sources.cram_codecs import tok3_decode

        raw = tok3_decode(raw)
    else:
        raise ValueError(f"unsupported CRAM block compression method {method}")
    if len(raw) != rsize:
        raise ValueError(f"CRAM block size mismatch: {len(raw)} != {rsize}")
    return ctype, cid, raw


# ----------------------------------------------------------------- codecs

class Encoding:
    """One CRAM data-series encoding (spec §12). Reads ints, single bytes,
    or byte arrays against the slice's external streams + core bit
    stream."""

    def __init__(self, codec: int, params: bytes):
        self.codec = codec
        p = Cursor(params)
        if codec == 0:  # NULL
            pass
        elif codec == 1:  # EXTERNAL
            self.cid = p.itf8()
        elif codec == 3:  # HUFFMAN (canonical)
            self.alphabet = p.arr()
            self.lens = p.arr()
            if len(self.alphabet) == 1 and self.lens[0] == 0:
                self.const: int | None = self.alphabet[0]
            else:
                self.const = None
                pairs = sorted(zip(self.lens, self.alphabet))
                self.codes: dict[tuple[int, int], int] = {}
                code = 0
                prev_len = pairs[0][0]
                for ln, sym in pairs:
                    code <<= ln - prev_len
                    prev_len = ln
                    self.codes[(ln, code)] = sym
                    code += 1
        elif codec == 4:  # BYTE_ARRAY_LEN
            lc, lp = p.itf8(), p.itf8()
            self.len_enc = Encoding(lc, p.read(lp))
            vc, vp = p.itf8(), p.itf8()
            self.val_enc = Encoding(vc, p.read(vp))
        elif codec == 5:  # BYTE_ARRAY_STOP
            self.stop = p.u8()
            self.cid = p.itf8()
        elif codec == 6:  # BETA
            self.offset = p.itf8()
            self.nbits = p.itf8()
        elif codec == 9:  # GAMMA
            self.offset = p.itf8()
        else:
            raise ValueError(f"unsupported CRAM codec {codec}")

    def get_int(self, streams, core) -> int:
        if self.codec == 1:
            return streams[self.cid].itf8()
        if self.codec == 3:
            if self.const is not None:
                return self.const
            ln, code = 0, 0
            while True:
                code = (code << 1) | core.bits(1)
                ln += 1
                if (ln, code) in self.codes:
                    return self.codes[(ln, code)]
                if ln > 31:
                    raise ValueError("bad huffman stream")
        if self.codec == 6:
            return core.bits(self.nbits) - self.offset
        if self.codec == 9:
            n = 0
            while core.bits(1) == 0:
                n += 1
            return ((1 << n) | core.bits(n)) - self.offset
        raise ValueError(f"codec {self.codec} cannot read ints")

    def get_byte(self, streams, core) -> int:
        if self.codec == 1:
            return streams[self.cid].u8()
        return self.get_int(streams, core)

    def get_bytes(self, streams, core, n: int | None = None) -> bytes:
        if self.codec == 5:
            # BYTE_ARRAY_STOP: one C-level index scan + slice instead of
            # a per-byte loop (names/soft-clips dominate record decode)
            s = streams[self.cid]
            buf = s.b
            try:
                j = buf.index(self.stop, s.p)
            except ValueError:
                raise ValueError(
                    "unterminated BYTE_ARRAY_STOP stream (missing stop byte)"
                ) from None
            out = bytes(buf[s.p:j])
            s.p = j + 1
            return out
        if self.codec == 4:
            n = self.len_enc.get_int(streams, core)
            if self.val_enc.codec == 1:
                return streams[self.val_enc.cid].read(n)
            return bytes(self.val_enc.get_byte(streams, core) for _ in range(n))
        if self.codec == 1:
            return streams[self.cid].read(n)
        raise ValueError(f"codec {self.codec} cannot read byte arrays")


# ------------------------------------------------------- container parsing

class ContainerHeader:
    __slots__ = ("length", "ref_id", "start", "span", "n_records",
                 "n_blocks", "landmarks", "body_offset")

    def __init__(self, c: Cursor):
        (self.length,) = struct.unpack("<i", c.read(4))
        self.ref_id = c.itf8()
        self.start = c.itf8()
        self.span = c.itf8()
        self.n_records = c.itf8()
        c.ltf8()  # record counter
        c.ltf8()  # bases
        self.n_blocks = c.itf8()
        self.landmarks = c.arr()
        c.read(4)  # CRC
        self.body_offset = c.p

    @property
    def is_eof(self) -> bool:
        return self.ref_id == -1 and self.n_records == 0 and self.n_blocks == 1


def parse_comp_header(raw: bytes):
    """Compression header → (preservation map, data-series encodings,
    tag encodings, tag dictionary lines)."""
    c = Cursor(raw)
    c.itf8()
    pres: dict[str, object] = {}
    for _ in range(c.itf8()):
        k = c.read(2).decode()
        if k in ("RN", "AP", "RR"):
            pres[k] = c.u8()
        elif k == "SM":
            pres[k] = c.read(5)
        elif k == "TD":
            pres[k] = c.read(c.itf8())
    c.itf8()
    series: dict[str, Encoding] = {}
    for _ in range(c.itf8()):
        k = c.read(2).decode()
        codec = c.itf8()
        series[k] = Encoding(codec, c.read(c.itf8()))
    c.itf8()
    tag_encs: dict[tuple[str, str], Encoding] = {}
    for _ in range(c.itf8()):
        key = c.itf8()
        tag = chr((key >> 16) & 0xFF) + chr((key >> 8) & 0xFF)
        typ = chr(key & 0xFF)
        codec = c.itf8()
        tag_encs[(tag, typ)] = Encoding(codec, c.read(c.itf8()))
    td: list[list[tuple[str, str]]] = []
    raw_td = pres.get("TD", b"")
    for line in raw_td.split(b"\x00")[:-1] if raw_td else []:
        td.append([(line[i:i + 2].decode(), chr(line[i + 2]))
                   for i in range(0, len(line), 3)])
    return pres, series, tag_encs, td


def sub_matrix(sm: bytes) -> dict[str, dict[int, str]]:
    """SM preservation bytes → {ref_base: {2-bit code: substituted base}}."""
    mat: dict[str, dict[int, str]] = {}
    for i, r in enumerate(BASES):
        alts = [b for b in BASES if b != r]
        mat[r] = {(sm[i] >> (6 - 2 * j)) & 3: a for j, a in enumerate(alts)}
    return mat


def decode_tag_value(typ: str, raw: bytes) -> tuple[str, object]:
    """BAM-aux-encoded tag bytes → (sam_type_code, python value)."""
    if typ == "A":
        return "A", chr(raw[0])
    if typ in "cCsSiI":
        fmt = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I"}[typ]
        return "i", struct.unpack(fmt, raw[:struct.calcsize(fmt)])[0]
    if typ == "f":
        return "f", struct.unpack("<f", raw[:4])[0]
    if typ in "ZH":
        return typ, raw.rstrip(b"\x00").decode("ascii", "replace")
    if typ == "B":
        sub = chr(raw[0])
        (n,) = struct.unpack("<i", raw[1:5])
        fmt = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}[sub]
        return "B" + sub, list(struct.unpack(f"<{n}{fmt}", raw[5:5 + n * struct.calcsize(fmt)]))
    return "Z", raw.decode("ascii", "replace")


# ----------------------------------------------------------- slice decode

class _ColumnarBail(Exception):
    """Columnar decode cannot represent this slice (core-bit codec on a
    consumed series, shared block, ...). Raised strictly BEFORE any
    stream cursor mutation, so the per-record loop decodes from scratch."""


class SliceDecoder:
    """Decodes every record of one slice into BAM-convention rows
    [qname flag rname pos mapq cigar rnext pnext tlen seq qual end]."""

    def __init__(self, comp, body: Cursor, ref_names: list[str],
                 reference: "ExternalRef | None"):
        self.pres, self.series, self.tag_encs, self.td = comp
        sc_type, _cid, raw = read_block(body)
        if sc_type not in (2, 3):
            raise ValueError(f"expected slice header block, got type {sc_type}")
        sc = Cursor(raw)
        self.ref_id = sc.itf8()
        self.start = sc.itf8()
        self.span = sc.itf8()
        self.n_records = sc.itf8()
        sc.ltf8()  # record counter
        n_blocks = sc.itf8()
        sc.arr()  # content ids
        self.embedded_ref_id = sc.itf8()
        self.streams: dict[int, Cursor] = {}
        self.core = BitReader(b"")
        for _ in range(n_blocks):
            btype, bcid, braw = read_block(body)
            if btype == 5:
                self.core = BitReader(braw)
            else:
                self.streams[bcid] = Cursor(braw)
        self.embed = (
            bytes(self.streams[self.embedded_ref_id].b)
            if self.embedded_ref_id >= 0 else None
        )
        self.ref_names = ref_names
        self.reference = reference
        self.smat = sub_matrix(self.pres["SM"]) if "SM" in self.pres else {}
        # External-reference slices prefetch the slice's declared
        # (start, span) window ONCE — _ref_bases would otherwise hit the
        # FASTA (open + faidx seek + read) for every match run of every
        # record. Records that escape the declared span fall back to a
        # direct fetch.
        self._ref_win: str | None = None
        self._ref_win_lo = 0
        if (reference is not None and self.ref_id >= 0 and self.span > 0
                and self.embed is None):
            try:
                self._ref_win = reference.fetch(
                    ref_names[self.ref_id], self.start - 1,
                    self.start - 1 + self.span,
                )
                self._ref_win_lo = self.start
            except Exception:
                self._ref_win = None  # malformed span: per-call fetches

    # reference base at 1-based position p on the slice's current ref
    def _ref_bases(self, ref_id: int, lo: int, hi: int) -> str:
        # an embedded reference block covers one ref's window; in a
        # multiref slice (ref_id == -2) it cannot serve per-record refs,
        # so fall through to the external FASTA
        if self.embed is not None and self.ref_id != -2:
            # lo/hi are 1-based inclusive; embed covers [self.start, ...]
            return self.embed[lo - self.start: hi - self.start + 1].decode("ascii", "replace")
        if self.reference is not None:
            w = self._ref_win
            if (w is not None and ref_id == self.ref_id
                    and lo >= self._ref_win_lo
                    and hi < self._ref_win_lo + len(w)):
                return w[lo - self._ref_win_lo: hi - self._ref_win_lo + 1]
            return self.reference.fetch(self.ref_names[ref_id], lo - 1, hi - 1 + 1)
        if self.pres.get("RR", 1):
            raise ValueError(
                "CRAM slice requires reference bases: pass .option('reference', "
                "'<fasta path>') (a .fai index must exist alongside)"
            )
        return "N" * (hi - lo + 1)

    def _get_i(self, key: str) -> int:
        return self.series[key].get_int(self.streams, self.core)

    def _get_b(self, key: str) -> int:
        return self.series[key].get_byte(self.streams, self.core)

    def _get_a(self, key: str, n: int | None = None) -> bytes:
        return self.series[key].get_bytes(self.streams, self.core, n)

    # ---- columnar fast path ------------------------------------------
    # Every CRAM data series lives in its OWN stream (consumed in record
    # order within the stream, independently of other streams), so when
    # the slice's series are all external-coded into DISTINCT blocks —
    # the layout htslib writes — each series decodes as one COLUMN
    # (vectorized batch ITF8 / one stop-byte scan / offset-sliced byte
    # slabs) instead of interleaved per-record pulls. Core-bit codecs
    # (huffman/beta/gamma) interleave ALL series through one bit stream
    # and fall back to the per-record reference loop, as does any block
    # shared between series. Constant huffman consumes nothing and is a
    # constant column. ~3× record assembly (see README).

    _COLUMNAR_INT = ("BF", "CF", "RI", "RL", "AP", "RG", "TL", "FN",
                     "MQ", "NF", "MF", "NS", "NP", "TS",
                     "BS", "DL", "RS", "HC", "PD")
    _COLUMNAR_STOP = ("RN", "SC", "IN", "BB")
    _COLUMNAR_BYTE = ("FC", "QS", "BA")

    def _columnar_ok(self, want_tags: bool) -> bool:
        """Structural gate: declared stream layout must be shareable-free.
        Codec support is checked LAZILY at consumption time — a series
        declared with an unsupported codec but never consumed (const BA,
        BYTE_ARRAY_LEN BB with no 'b' features — both appear in real
        htslib files) must not force the slow path. The lazy checks
        raise `_ColumnarBail` BEFORE any stream cursor moves (positions
        commit in one batch), so the per-record loop can take over
        cleanly."""
        used_cids: list[int] = []
        for key in self._COLUMNAR_INT + self._COLUMNAR_STOP + self._COLUMNAR_BYTE:
            enc = self.series.get(key)
            if enc is None or not hasattr(enc, "cid"):
                continue
            used_cids.append(enc.cid)
        # tag streams decode per record inside the assembly loop (their
        # own cursors, record order) — they only need to be disjoint
        # from the columnar blocks
        tag_cids: set[int] = set()
        for enc in self.tag_encs.values():
            for e in (enc, getattr(enc, "len_enc", None),
                      getattr(enc, "val_enc", None)):
                if e is not None and hasattr(e, "cid"):
                    tag_cids.add(e.cid)
        cid_set = set(used_cids)
        if len(cid_set) != len(used_cids):
            return False  # shared blocks: interleaved record order
        if cid_set & tag_cids:
            return False
        if self.embedded_ref_id >= 0 and self.embedded_ref_id in cid_set:
            return False
        return True

    def _col_int(self, key: str, count: int, pos: dict):
        """One int series as an int64 column of ``count`` values; stream
        position advances in ``pos`` (committed by the caller), never on
        the cursor."""
        import numpy as np

        if count == 0:
            return np.empty(0, np.int64)
        enc = self.series.get(key)
        if enc is None:
            raise _ColumnarBail(f"series {key} undeclared")
        if enc.codec == 3 and getattr(enc, "const", None) is not None:
            return np.full(count, enc.const, np.int64)
        if enc.codec != 1 or enc.cid not in self.streams:
            raise _ColumnarBail(f"series {key} not external")
        cur = self.streams[enc.cid]
        vals, end = itf8_batch(cur.b, pos.get(enc.cid, cur.p), count)
        pos[enc.cid] = end
        return vals

    def _col_stop(self, key: str, count: int, pos: dict):
        """(buf, starts, ends) of a stop-string series column."""
        import numpy as np

        if count == 0:
            e = np.empty(0, np.int64)
            return b"", e, e
        enc = self.series.get(key)
        if enc is None or enc.codec != 5 or enc.cid not in self.streams:
            raise _ColumnarBail(f"series {key} not stop-coded external")
        cur = self.streams[enc.cid]
        starts, ends, end = stop_bounds(
            cur.b, pos.get(enc.cid, cur.p), count, enc.stop)
        pos[enc.cid] = end
        return cur.b, starts, ends

    def _col_byte_span(self, key: str, need: int, pos: dict):
        """(buf, base offset) of a ``need``-byte span of a byte series."""
        enc = self.series.get(key)
        if enc is None or enc.codec != 1 or enc.cid not in self.streams:
            raise _ColumnarBail(f"series {key} not byte-external")
        cur = self.streams[enc.cid]
        base = pos.get(enc.cid, cur.p)
        if base + need > len(cur.b):
            raise ValueError(f"series {key} stream truncated")
        pos[enc.cid] = base + need
        return cur.b, base

    def _records_columnar(self, want_tags: bool, arrow: bool = False):
        import numpy as np

        pres = self.pres
        n = self.n_records
        pos: dict[int, int] = {}  # deferred stream positions (committed
        # only after every series decoded — a _ColumnarBail before then
        # leaves all cursors pristine for the per-record loop)

        def get(key, count):
            return self._col_int(key, count, pos)

        BF = get("BF", n)
        CF = get("CF", n)
        multiref = self.ref_id == -2
        RI = get("RI", n) if multiref else np.full(n, self.ref_id, np.int64)
        RL = get("RL", n)
        AP = get("AP", n)
        get("RG", n)
        rn_on = bool(pres.get("RN", 1))
        if pres.get("AP", 1):
            POS = self.start + np.cumsum(AP)
        else:
            POS = AP
        if rn_on:
            rn_buf, rn_s, rn_e = self._col_stop("RN", n, pos)
        detached = (CF & 0x2) != 0
        downstream = ((CF & 0x4) != 0) & ~detached
        n_det = int(detached.sum())
        MF = get("MF", n_det) if n_det else np.zeros(0, np.int64)
        if not rn_on:
            dn_buf, dn_s, dn_e = self._col_stop("RN", n_det, pos)
        NS = get("NS", n_det) if n_det else np.zeros(0, np.int64)
        NP = get("NP", n_det) if n_det else np.zeros(0, np.int64)
        TS = get("TS", n_det) if n_det else np.zeros(0, np.int64)
        NF = get("NF", int(downstream.sum()))
        TL = get("TL", n)
        have_tags = any(self.td[t] for t in np.unique(TL) if 0 <= t < len(self.td))
        mapped = (BF & 0x4) == 0
        n_map = int(mapped.sum())
        FN = np.zeros(n, np.int64)
        FN[mapped] = get("FN", n_map)
        total_feats = int(FN.sum())
        # FC: one byte per feature from its own block
        if total_feats:
            fc_buf, fc_base = self._col_byte_span("FC", total_feats, pos)
            FC = np.frombuffer(fc_buf, np.uint8, total_feats, fc_base)
        else:
            FC = np.zeros(0, np.uint8)
        FP = get("FP", total_feats) if total_feats else np.zeros(0, np.int64)
        # per-type payload columns, in feature-stream order
        def _count(ch: str) -> int:
            return int((FC == ord(ch)).sum()) if total_feats else 0

        n_X, n_I, n_S = _count("X"), _count("I"), _count("S")
        n_D, n_N, n_H, n_P = _count("D"), _count("N"), _count("H"), _count("P")
        n_b = _count("b")
        BS = get("BS", n_X) if n_X else np.zeros(0, np.int64)
        DL = get("DL", n_D) if n_D else np.zeros(0, np.int64)
        RS = get("RS", n_N) if n_N else np.zeros(0, np.int64)
        HC = get("HC", n_H) if n_H else np.zeros(0, np.int64)
        PD = get("PD", n_P) if n_P else np.zeros(0, np.int64)
        if n_I:
            in_buf, in_s, in_e = self._col_stop("IN", n_I, pos)
        if n_S:
            sc_buf, sc_s, sc_e = self._col_stop("SC", n_S, pos)
        if n_b:
            bb_buf, bb_s, bb_e = self._col_stop("BB", n_b, pos)
        # BA: 1 byte per 'i'/'B' feature of mapped records, rl-byte slab
        # for unmapped-with-seq records — offsets per record via cumsum
        feat_rec = np.repeat(np.arange(n), FN) if total_feats else np.zeros(0, np.int64)
        ba_feat = np.zeros(n, np.int64)
        qs_feat = np.zeros(n, np.int64)
        if total_feats:
            is_ba = (FC == ord("i")) | (FC == ord("B"))
            is_qs = (FC == ord("Q")) | (FC == ord("B"))
            np.add.at(ba_feat, feat_rec[is_ba], 1)
            np.add.at(qs_feat, feat_rec[is_qs], 1)
        unmapped_seq = (~mapped) & ((CF & 0x8) == 0)
        ba_counts = ba_feat + np.where(unmapped_seq, RL, 0)
        qs_counts = qs_feat + np.where((CF & 0x1) != 0, RL, 0)
        ba_need = int(ba_counts.sum())
        if ba_need:
            ba_buf, ba_base = self._col_byte_span("BA", ba_need, pos)
            ba_off = ba_base + np.concatenate(([0], np.cumsum(ba_counts)))
        qs_need = int(qs_counts.sum())
        if qs_need:
            qs_buf, qs_base = self._col_byte_span("QS", qs_need, pos)
            qs_off = qs_base + np.concatenate(([0], np.cumsum(qs_counts)))
            # whole-block phred render once (one C-level translate);
            # per-record quals are then string slices. The all-0xFF
            # ("qualities absent") test is a cumsum gather: non-FF count
            # in [s, e) == 0.
            qs_text = qs_buf.translate(_PHRED33).decode("latin-1")
            # "qualities absent" = all-0xFF run. Real blocks are almost
            # always all-present (or, for absent series, all-FF), so a
            # cheap whole-block count replaces the O(block) int64 prefix
            # cumsum in those cases; only MIXED blocks pay for it.
            n_ff = int(np.count_nonzero(
                np.frombuffer(qs_buf, np.uint8, qs_need,
                              qs_base) == 0xFF))
            if n_ff == 0:
                qs_nonff = None      # every range has qualities
            elif n_ff == qs_need:
                qs_nonff = False     # no range has qualities
            else:
                qs_nonff = np.concatenate(([0], np.cumsum(
                    np.frombuffer(qs_buf, np.uint8) != 0xFF)))
            # quality slab start per record = span start + feature bytes
            qs_slab = (qs_off[:-1] + qs_feat).tolist()
        fn_off = np.concatenate(([0], np.cumsum(FN)))
        mq_vals = get("MQ", n_map)

        # every series decoded: commit stream positions (the point of no
        # return — no _ColumnarBail past here)
        for cid, p_ in pos.items():
            self.streams[cid].p = p_

        # ---- vectorized cigar/seq assembly (feature algebra in numpy;
        # per-record work shrinks to slicing precomputed buffers). Bails
        # to the in-loop per-record build for multiref slices and
        # malformed feature streams.
        vec = None
        if not multiref:
            vec = self._assemble_vec(
                n, mapped, POS, RL, FN, fn_off, FC, FP, feat_rec,
                BS, DL, RS, HC, PD,
                (in_buf, in_s, in_e) if n_I else None,
                (sc_buf, sc_s, sc_e) if n_S else None,
                (bb_buf, bb_s, bb_e) if n_b else None,
                (ba_buf, ba_off) if ba_need else None,
            )

        if arrow and vec is not None and not want_tags and rn_on:
            batch = self._arrow_batch(
                n, vec, mapped, BF, CF, RI, RL, POS,
                rn_buf, rn_s, rn_e, self.series["RN"].stop,
                detached, downstream, MF, NS, NP, TS, NF,
                mq_vals, unmapped_seq, ba_need,
                ba_buf if ba_need else b"",
                ba_off if ba_need else None,
                qs_need,
                qs_buf if qs_need else b"",
                qs_off if qs_need else None,
                qs_feat,
                qs_slab if qs_need else None,
                qs_nonff if qs_need else False,
                qs_text if qs_need else "",
            )
            if batch is not None:
                return batch

        # ---- assembly loop: array/buffer reads only, no stream decode
        out = []
        ref_names = self.ref_names
        build = self._build
        i_X = i_I = i_S = i_D = i_N = i_H = i_P = i_b = 0
        i_det = i_dn = i_map = 0
        BSl = BS.tolist(); DLl = DL.tolist(); RSl = RS.tolist()
        HCl = HC.tolist(); PDl = PD.tolist()
        POSl = POS.tolist(); BFl = BF.tolist(); CFl = CF.tolist()
        RIl = RI.tolist(); RLl = RL.tolist(); TLl = TL.tolist()
        FPl = FP.tolist(); FCl = FC.tolist()
        fn_off_l = fn_off.tolist()
        rn_sl = rn_s.tolist() if rn_on else None
        rn_el = rn_e.tolist() if rn_on else None
        ba_off_l = ba_off.tolist() if ba_need else None
        qs_off_l = qs_off.tolist() if qs_need else None
        mq_l = mq_vals.tolist()
        for i in range(n):
            bf = BFl[i]; cf = CFl[i]; ri = RIl[i]; rl = RLl[i]
            pos = POSl[i]
            qname = None
            if rn_on:
                qname = rn_buf[rn_sl[i]:rn_el[i]].decode("ascii", "replace")
            mf = ns = np_ = ts = nf = None
            if cf & 0x2:
                mf = int(MF[i_det]) if len(MF) else None
                if not rn_on:
                    qname = dn_buf[int(dn_s[i_det]):int(dn_e[i_det])].decode(
                        "ascii", "replace")
                ns = int(NS[i_det]); np_ = int(NP[i_det]); ts = int(TS[i_det])
                i_det += 1
            elif cf & 0x4:
                nf = int(NF[i_dn]); i_dn += 1
            tl = TLl[i]
            tags: dict[str, tuple[str, object]] = {}
            if have_tags and 0 <= tl < len(self.td):
                for tag, typ in self.td[tl]:
                    raw = self.tag_encs[(tag, typ)].get_bytes(self.streams, self.core)
                    val = decode_tag_value(typ, raw)
                    if want_tags:
                        tags[tag] = val
            ba_used = 0   # per-record cursor into the BA span
            qs_used = 0   # per-record cursor into the QS span
            cigar = seq = qual = end = mapq = None
            if not bf & 0x4 and vec is not None:
                cigar = vec[0][i]
                o = vec[2][i]
                seq = vec[1][o:o + rl] or None
                e_ = vec[3][i]
                end = e_ if e_ >= 0 else None
                mapq = mq_l[i_map]; i_map += 1
            elif not bf & 0x4:
                feats = []
                fpos = 0
                for k in range(fn_off_l[i], fn_off_l[i + 1]):
                    fc = chr(FCl[k])
                    fpos += FPl[k]
                    if fc == "X":
                        payload: object = BSl[i_X]; i_X += 1
                    elif fc == "i":
                        payload = chr(ba_buf[ba_off_l[i] + ba_used]); ba_used += 1
                    elif fc == "I":
                        payload = in_buf[int(in_s[i_I]):int(in_e[i_I])].decode(
                            "ascii", "replace"); i_I += 1
                    elif fc == "S":
                        payload = sc_buf[int(sc_s[i_S]):int(sc_e[i_S])].decode(
                            "ascii", "replace"); i_S += 1
                    elif fc == "D":
                        payload = DLl[i_D]; i_D += 1
                    elif fc == "N":
                        payload = RSl[i_N]; i_N += 1
                    elif fc == "H":
                        payload = HCl[i_H]; i_H += 1
                    elif fc == "P":
                        payload = PDl[i_P]; i_P += 1
                    elif fc == "B":
                        payload = (chr(ba_buf[ba_off_l[i] + ba_used]),
                                   qs_buf[qs_off_l[i] + qs_used])
                        ba_used += 1; qs_used += 1
                    elif fc == "Q":
                        payload = qs_buf[qs_off_l[i] + qs_used]; qs_used += 1
                    elif fc == "b":
                        payload = bb_buf[int(bb_s[i_b]):int(bb_e[i_b])].decode(
                            "ascii", "replace"); i_b += 1
                    else:
                        raise ValueError(f"unsupported CRAM read feature {fc!r}")
                    feats.append((fc, fpos, payload))
                mapq = mq_l[i_map]; i_map += 1
                cigar, seq, end = build(ri, pos, rl, feats)
            else:
                if not cf & 0x8:
                    o = ba_off_l[i] + ba_used
                    # '' → None: a zero-length unmapped sequence is
                    # absent ('*'), matching the mapped rl<=0 rule
                    seq = ba_buf[o:o + rl].decode("ascii", "replace") or None
            if cf & 0x1:
                o = qs_slab[i]
                if qs_nonff is None:
                    qual = qs_text[o:o + rl]
                elif qs_nonff is not False and qs_nonff[o + rl] - qs_nonff[o]:
                    qual = qs_text[o:o + rl]
            if cf & 0x8:
                seq = None
            rname = ref_names[ri] if ri >= 0 else None
            if cf & 0x2:
                if mf is not None:
                    bf |= (0x20 if mf & 1 else 0) | (0x8 if mf & 2 else 0)
                rnext = ref_names[ns] if ns is not None and ns >= 0 else None
                pnext = np_ if rnext is not None else None
                tlen = ts if ts is not None else 0
            else:
                rnext = pnext = None
                tlen = 0
            row = [
                qname if qname != "*" else None,
                bf, rname, pos if ri >= 0 else None,
                None if mapq in (None, 255) else mapq,
                cigar, rnext, pnext, tlen, seq, qual, end,
            ]
            out.append((row, tags, nf, rl))
        self._link_mates(out)
        return [(row, tags) for row, tags, _nf, _rl in out]

    @staticmethod
    def _link_mates(out) -> None:
        """Intra-slice mate linking (NF chains): set rnext/pnext/tlen
        from the mate record; leftmost gets +tlen, rightmost -tlen."""
        for i, (row, _t, nf, _rl) in enumerate(out):
            if nf is None:
                continue
            mate = out[i + nf + 1][0]
            row[6] = mate[2]
            row[7] = mate[3]
            self_end = row[11] or row[3] or 0
            mate_end = mate[11] or mate[3] or 0
            lo = min(row[3] or 0, mate[3] or 0)
            hi = max(self_end, mate_end)
            span = hi - lo + 1
            row[8] = span if (row[3] or 0) <= (mate[3] or 0) else -span
            mate[6] = row[2]
            mate[7] = row[3]
            mate[8] = -row[8]

    def records(self, want_tags: bool):
        if self._columnar_ok(want_tags):
            try:
                out = self._records_columnar(want_tags)
            except _ColumnarBail:
                pass  # cursors untouched: the reference loop takes over
            else:
                return out
        return self._records_loop(want_tags)

    def records_any(self, want_tags: bool):
        """('arrow', RecordBatch) when the fully-columnar arrow emit is
        available (vectorized assembly + standard layout, no tags), else
        ('rows', [(row, tags), ...])."""
        if self._columnar_ok(want_tags):
            try:
                out = self._records_columnar(want_tags, arrow=True)
            except _ColumnarBail:
                pass
            else:
                if isinstance(out, pa.RecordBatch):
                    return ("arrow", out)
                return ("rows", out)
        return ("rows", self._records_loop(want_tags))

    def _records_loop(self, want_tags: bool):
        """Per-record reference decode — the general path (core-bit
        codecs, shared blocks) and the equality twin the columnar path
        is tested against."""
        pres = self.pres
        last_pos = self.start
        out = []
        for _ in range(self.n_records):
            bf = self._get_i("BF")
            cf = self._get_i("CF")
            ri = self._get_i("RI") if self.ref_id == -2 else self.ref_id
            rl = self._get_i("RL")
            # CRAM 3.0 spec §8.4: AP-delta and RN-included default to
            # true when absent from the preservation map (like RR below)
            if pres.get("AP", 1):
                last_pos += self._get_i("AP")
                pos = last_pos
            else:
                pos = self._get_i("AP")
            self._get_i("RG")
            qname = self._get_a("RN").decode("ascii", "replace") if pres.get("RN", 1) else None
            mf = ns = np_ = ts = nf = None
            if cf & 0x2:  # detached mate
                mf = self._get_i("MF")
                if not pres.get("RN", 1):
                    qname = self._get_a("RN").decode("ascii", "replace")
                ns = self._get_i("NS")
                np_ = self._get_i("NP")
                ts = self._get_i("TS")
            elif cf & 0x4:  # mate downstream in this slice
                nf = self._get_i("NF")
            tl = self._get_i("TL")
            tags: dict[str, tuple[str, object]] = {}
            if tl >= 0 and tl < len(self.td):
                for tag, typ in self.td[tl]:
                    raw = self.tag_encs[(tag, typ)].get_bytes(self.streams, self.core)
                    val = decode_tag_value(typ, raw)
                    if want_tags:
                        tags[tag] = val
            # features → cigar + seq
            cigar = seq = qual = end = mapq = None
            if not bf & 0x4:
                feats = []
                fpos = 0
                for _ in range(self._get_i("FN")):
                    fc = chr(self._get_b("FC"))
                    fpos += self._get_i("FP")
                    if fc == "X":
                        payload: object = self._get_i("BS")
                    elif fc == "i":
                        payload = chr(self._get_b("BA"))
                    elif fc == "I":
                        payload = self._get_a("IN").decode("ascii", "replace")
                    elif fc == "S":
                        payload = self._get_a("SC").decode("ascii", "replace")
                    elif fc in "DNHP":
                        payload = self._get_i({"D": "DL", "N": "RS", "H": "HC", "P": "PD"}[fc])
                    elif fc == "B":
                        payload = (chr(self._get_b("BA")), self._get_b("QS"))
                    elif fc == "Q":
                        payload = self._get_b("QS")
                    elif fc == "b":
                        payload = self._get_a("BB").decode("ascii", "replace")
                    else:
                        raise ValueError(f"unsupported CRAM read feature {fc!r}")
                    feats.append((fc, fpos, payload))
                mapq = self._get_i("MQ")
                cigar, seq, end = self._build(ri, pos, rl, feats)
            else:
                if not cf & 0x8:
                    ba = self.series["BA"]
                    if ba.codec == 1:  # external: one slab read, no loop
                        raw_seq = self.streams[ba.cid].read(rl)
                    else:
                        raw_seq = bytes(self._get_b("BA") for _ in range(rl))
                    seq = raw_seq.decode("ascii", "replace") or None
            if cf & 0x1:
                qs = self._get_a("QS", rl)
                if not all(q == 0xFF for q in qs):
                    # +33 per byte via one translate instead of per-char
                    # chr(); latin-1 decode reproduces chr(b) exactly
                    qual = qs.translate(_PHRED33).decode("latin-1")
            if cf & 0x8:
                seq = None
            # mate fields
            rname = self.ref_names[ri] if ri >= 0 else None
            if cf & 0x2:
                # restore mate flag bits carried in MF
                if mf is not None:
                    bf |= (0x20 if mf & 1 else 0) | (0x8 if mf & 2 else 0)
                rnext = self.ref_names[ns] if ns is not None and ns >= 0 else None
                pnext = np_ if rnext is not None else None
                tlen = ts if ts is not None else 0
            else:
                rnext = pnext = None
                tlen = 0
            row = [
                qname if qname != "*" else None,
                bf, rname, pos if ri >= 0 else None,
                None if mapq in (None, 255) else mapq,
                cigar, rnext, pnext, tlen, seq, qual, end,
            ]
            out.append((row, tags, nf, rl))
        self._link_mates(out)
        return [(row, tags) for row, tags, _nf, _rl in out]

    def _assemble_vec(self, n, mapped, POS, RL, FN, fn_off, FC, FP,
                      feat_rec, BS, DL, RS, HC, PD,
                      in_sb, sc_sb, bb_sb, ba_sp):
        """Vectorized feature → (cigar, seq, end) assembly for a whole
        slice: the per-record/per-feature Python of `_build` re-expressed
        as numpy segmented cumsums (absolute read/ref offsets), one
        RLE merge over interleaved (gap-M, op) slot arrays for cigars,
        and batched gather/scatter byte fills for sequences (reference
        window fetched ONCE per slice). Returns (cigars, seqs, ends)
        lists indexed by record, or None to bail to the per-record loop
        (multiref handled by the caller; malformed streams — overlapping
        feature positions, read-length overruns — bail here so the loop
        reproduces `_build`'s behavior byte for byte)."""
        import numpy as np

        K = len(FC)
        code = FC.astype(np.uint8) if K else np.zeros(0, np.uint8)
        is_X = code == ord("X"); is_i = code == ord("i")
        is_I = code == ord("I"); is_S = code == ord("S")
        is_D = code == ord("D"); is_N = code == ord("N")
        is_H = code == ord("H"); is_P = code == ord("P")
        is_B = code == ord("B"); is_b = code == ord("b")
        is_Q = code == ord("Q")
        known = (is_X | is_i | is_I | is_S | is_D | is_N | is_H | is_P
                 | is_B | is_b | is_Q)
        if K and not bool(known.all()):
            return None  # unknown feature code: let the loop raise

        first_idx = fn_off[:-1][FN > 0]
        # absolute 1-based read position per feature (FP is delta-coded)
        c = np.cumsum(FP) if K else np.zeros(0, np.int64)
        ext = np.concatenate(([0], c))
        fp_abs = c - np.repeat(ext[fn_off[:-1]], FN) if K else c

        rc = np.zeros(K, np.int64)  # read bases consumed
        rc[is_X | is_i | is_B] = 1
        if in_sb is not None:
            rc[is_I] = in_sb[2] - in_sb[1]
        if sc_sb is not None:
            rc[is_S] = sc_sb[2] - sc_sb[1]
        if bb_sb is not None:
            rc[is_b] = bb_sb[2] - bb_sb[1]
        rpos_after = fp_abs - 1 + rc
        rpos_prev = np.concatenate(([0], rpos_after[:-1])) if K else rpos_after
        if K:
            rpos_prev[first_idx] = 0
        gap = fp_abs - 1 - rpos_prev
        if K and bool((gap < 0).any()):
            return None  # overlapping features: _build's sequential walk
        # ref bases consumed per feature (gap fill + the op itself)
        rfc = gap.copy()
        rfc[is_X] += 1
        rfc[is_B] += 1
        rfc[is_D] += DL
        rfc[is_N] += RS
        rfc[is_b] += rc[is_b]
        cum_rfc = np.cumsum(rfc) if K else rfc
        extr = np.concatenate(([0], cum_rfc))
        ref_after = cum_rfc - np.repeat(extr[fn_off[:-1]], FN) if K else cum_rfc
        ref_before = ref_after - rfc  # before this feature's gap fill
        rec_rfc = np.diff(extr[fn_off])
        rpos_ext = np.concatenate(([0], rpos_after))
        rpos_last = rpos_ext[fn_off[1:]]
        rpos_last[FN == 0] = 0
        tail = np.where(mapped, RL - rpos_last, 0)
        if bool((tail < 0).any()):
            return None  # features overrun the read length
        total_ref = rec_rfc + tail
        end_np = POS + total_ref - 1

        # ---- cigars: interleaved (gap M, op) slots + per-record tail M,
        # dropped when empty, RLE-merged, rendered once
        op_code = np.zeros(K, np.uint8)
        op_len = np.zeros(K, np.int64)
        M = ord("M")
        op_code[is_X | is_B | is_b] = M
        op_code[is_i | is_I] = ord("I")
        op_code[is_S] = ord("S")
        op_code[is_D] = ord("D")
        op_code[is_N] = ord("N")
        op_code[is_H] = ord("H")
        op_code[is_P] = ord("P")
        op_len[is_X | is_i | is_B] = 1
        op_len[is_I] = rc[is_I]
        op_len[is_S] = rc[is_S]
        op_len[is_b] = rc[is_b]
        op_len[is_D] = DL
        op_len[is_N] = RS
        op_len[is_H] = HC
        op_len[is_P] = PD
        # interleaved slot arrays built by direct scatter (tail of record
        # r lands after its features and the r earlier tails)
        S = 2 * K + n
        rng = np.arange(n)
        all_code = np.zeros(S, np.uint8)
        all_len = np.zeros(S, np.int64)
        all_rec = np.zeros(S, np.int64)
        if K:
            pe = 2 * np.arange(K) + feat_rec
            all_code[pe] = M
            all_len[pe] = gap
            all_rec[pe] = feat_rec
            all_code[pe + 1] = op_code
            all_len[pe + 1] = op_len
            all_rec[pe + 1] = feat_rec
        pt = 2 * fn_off[1:] + rng
        all_code[pt] = M
        all_len[pt] = tail
        all_rec[pt] = rng
        keep = (all_len > 0) & (all_code != 0)
        kc, kl, kr = all_code[keep], all_len[keep], all_rec[keep]
        cigars: list = [None] * n
        if len(kc):
            bnd = np.empty(len(kc), bool)
            bnd[0] = True
            bnd[1:] = (kc[1:] != kc[:-1]) | (kr[1:] != kr[:-1])
            starts = np.flatnonzero(bnd)
            mlen = np.add.reduceat(kl, starts).tolist()
            mcode = kc[starts].tolist()
            mrec = kr[starts]
            rb = np.empty(len(mrec), bool)
            rb[0] = True
            rb[1:] = mrec[1:] != mrec[:-1]
            seg_s = np.flatnonzero(rb)
            seg_e = np.concatenate((seg_s[1:], [len(mcode)]))
            dec = _DEC_CACHE
            nd = len(dec)
            chars = _CHR_CACHE
            for s, e, r in zip(seg_s.tolist(), seg_e.tolist(),
                               mrec[seg_s].tolist()):
                if e - s == 1:  # single-op cigar (the perfect-match mass)
                    ln = mlen[s]
                    cigars[r] = (dec[ln] if ln < nd else str(ln)) \
                        + chars[mcode[s]]
                else:
                    cigars[r] = "".join(
                        (dec[mlen[k]] if mlen[k] < nd else str(mlen[k]))
                        + chars[mcode[k]] for k in range(s, e))

        # ---- seqs: one byte buffer. Read and reference advance in
        # LOCKSTEP except at indel-type features (I/i/S/b/D/N), so each
        # record is a handful of contiguous ref RUNS — copied as numpy
        # slice memcpys (no corpus-sized index arrays) — plus point
        # overwrites for X substitutions and i/B verbatim bases and
        # short slice copies for I/S/b payloads.
        seq_len = np.where(mapped, RL, 0)
        seq_off = np.concatenate(([0], np.cumsum(seq_len)))
        total = int(seq_off[-1])
        out = np.full(total, ord("N"), np.uint8)
        frec = feat_rec if K else np.zeros(0, np.int64)
        pos_rec = POS[frec] if K else np.zeros(0, np.int64)

        indel = is_I | is_i | is_S | is_b | is_D | is_N
        bidx = np.flatnonzero(indel)
        rng_n = np.arange(n)
        # run starts: record begin + after every indel feature
        run_rec = np.concatenate((rng_n, frec[bidx]))
        run_dst = np.concatenate((np.zeros(n, np.int64), rpos_after[bidx]))
        run_src = np.concatenate((POS, (pos_rec + ref_after)[bidx]))
        # a run started by an indel ends the PREVIOUS run at that
        # feature's pre-gap read position (fp_abs - 1)
        run_fpm1 = np.concatenate((np.zeros(n, np.int64),
                                   (fp_abs - 1)[bidx]))
        order = np.lexsort((run_dst, run_rec))
        run_rec = run_rec[order]
        run_dst = run_dst[order]
        run_src = run_src[order]
        run_fpm1 = run_fpm1[order]
        run_stop = np.empty(len(run_rec), np.int64)
        if len(run_rec):
            same = run_rec[1:] == run_rec[:-1]
            run_stop[:-1] = np.where(same, run_fpm1[1:], RL[run_rec[:-1]])
            run_stop[-1] = RL[run_rec[-1]]
        run_len = run_stop - run_dst
        sel_runs = (run_len > 0) & mapped[run_rec]
        x_ref = (pos_rec + ref_before + gap)[is_X] if K else             np.zeros(0, np.int64)
        ref_np = None
        lo = 1
        if bool(sel_runs.any()) or len(x_ref):
            rs = run_src[sel_runs]
            rl_run = run_len[sel_runs]
            los = [rs.min()] if len(rs) else []
            his = [(rs + rl_run).max() - 1] if len(rs) else []
            if len(x_ref):
                los.append(x_ref.min())
                his.append(x_ref.max())
            lo, hi = int(min(los)), int(max(his))
            if lo < 1:
                return None
            try:
                ref_str = self._ref_bases(int(self.ref_id), lo, hi)
            except Exception:
                return None
            if ref_str is None or len(ref_str) != hi - lo + 1:
                return None
            ref_np = np.frombuffer(
                ref_str.encode("latin-1", "replace"), np.uint8)
            rd = (seq_off[run_rec] + run_dst)[sel_runs].tolist()
            rsl = (rs - lo).tolist()
            rll = rl_run.tolist()
            for d, sr, ln in zip(rd, rsl, rll):
                out[d:d + ln] = ref_np[sr:sr + ln]

        # substitutions: lut[ref_base, code] (one gather over X features)
        if len(x_ref):
            lut = np.full((256, 256), ord("N"), np.uint8)
            for rb_ch, subs in self.smat.items():
                for sc_code, ch in subs.items():
                    if 0 <= sc_code < 256:
                        lut[ord(rb_ch), sc_code] = ord(ch)
            xb = np.clip(BS, 0, 255)
            out[(seq_off[frec] + fp_abs - 1)[is_X]] = \
                lut[ref_np[x_ref - lo], xb]

        # single verbatim bases from the BA slab ('i' and 'B')
        is_ba = is_i | is_B
        if ba_sp is not None and bool(is_ba.any()):
            ba_np = np.frombuffer(ba_sp[0], np.uint8)
            csb = np.cumsum(is_ba)
            ordin = (csb - np.repeat(
                np.concatenate(([0], csb))[fn_off[:-1]], FN) - 1)
            sel = is_ba
            out[(seq_off[frec] + fp_abs - 1)[sel]] = \
                ba_np[ba_sp[1][frec[sel]] + ordin[sel]]

        # variable-length payloads: I (insert), S (soft clip), b (bases)
        for sel, sb in ((is_I, in_sb), (is_S, sc_sb), (is_b, bb_sb)):
            if sb is None or not bool(sel.any()):
                continue
            buf_np = np.frombuffer(sb[0], np.uint8)
            pl = rc[sel].tolist()
            ps = sb[1].tolist()
            pd = (seq_off[frec] + fp_abs - 1)[sel].tolist()
            for d, sr, ln in zip(pd, ps, pl):
                out[d:d + ln] = buf_np[sr:sr + ln]

        text = out.tobytes().decode("latin-1")
        # -1 sentinels (POS >= 1 so real ends are >= 0) let the caller
        # branch without another per-record pass here
        ends = np.where(mapped & (total_ref > 0), end_np, -1).tolist()
        return cigars, text, seq_off.tolist(), ends

    def _arrow_batch(self, n, vec, mapped, BF, CF, RI, RL, POS,
                     rn_buf, rn_s, rn_e, rn_stop,
                     detached, downstream, MF, NS, NP, TS, NF,
                     mq_vals, unmapped_seq, ba_need, ba_buf, ba_off,
                     qs_need, qs_buf, qs_off, qs_feat, qs_slab, qs_nonff,
                     qs_text):
        """Columnar slice → one Arrow RecordBatch with the 12 standard
        columns, built from the decode arrays without a per-record row
        loop: qname and qual are ZERO-COPY StringArrays over the
        stop-coded name slab (stops dropped, offsets shifted) and the
        phred-rendered quality slab (absolute offsets — the slab layout
        is already consecutive); rname dictionary-decodes ref ids;
        flag/pos/mapq/tlen are numpy casts. Only NF mate chains and
        mixed seq sources keep short Python loops over their (small)
        subsets. Returns None when a layout precondition fails — the
        caller falls back to the row loop, so fast ≡ slow by
        construction."""
        import numpy as np

        cigars, text, seq_off, ends = vec
        try:
            if n == 0 or int(POS.max()) >= (1 << 31) or len(rn_s) != n:
                return None
            # ---- qname: strip stop bytes, shift offsets
            span = bytes(rn_buf[int(rn_s[0]):int(rn_e[-1]) + 1])
            if not span.isascii():
                return None
            data = span.replace(bytes([rn_stop]), b"")
            off = np.empty(n + 1, np.int32)
            off[:n] = rn_s - rn_s[0] - np.arange(n)
            off[n] = (int(rn_e[-1]) + 1 - int(rn_s[0])) - n
            if len(data) != off[n]:
                return None
            qname = pa.Array.from_buffers(
                pa.utf8(), n,
                [None, pa.py_buffer(off.tobytes()), pa.py_buffer(data)])
            rn_first = np.frombuffer(rn_buf, np.uint8)[rn_s]
            star = (rn_e - rn_s == 1) & (rn_first == ord("*"))
            if bool(star.any()):
                qname = pc.if_else(
                    pa.array(~star), qname, pa.scalar(None, pa.utf8()))

            # ---- rnext/pnext/tlen: detached fields then NF mate links
            ref_names = self.ref_names
            rname_py = np.full(n, None, dtype=object)
            ri_ok = RI >= 0
            if bool(ri_ok.any()):
                rname_py[ri_ok] = np.array(ref_names, dtype=object)[RI[ri_ok]]
            rnext = np.full(n, None, dtype=object)
            pnext = np.full(n, None, dtype=object)
            tlen = np.zeros(n, np.int64)
            det_idx = np.flatnonzero(detached)
            if len(det_idx):
                ns_ok = NS >= 0
                ok_idx = det_idx[ns_ok]
                rnext[ok_idx] = np.array(ref_names, dtype=object)[NS[ns_ok]]
                pnext[ok_idx] = NP[ns_ok].astype(object)
                tlen[det_idx] = TS
            pos_py = np.where(ri_ok, POS, 0)
            ends_np = np.asarray(ends, np.int64)
            end_ok = ends_np >= 0
            dn_idx = np.flatnonzero(downstream)
            for j0, i in enumerate(dn_idx.tolist()):
                # NF mate chain (small subset loop — mirrors _link_mates)
                m = i + int(NF[j0]) + 1
                if m >= n:
                    return None
                rnext[i] = rname_py[m]
                pnext[i] = int(POS[m]) if RI[m] >= 0 else None
                self_end = int(ends_np[i]) if end_ok[i] else (
                    int(POS[i]) if RI[i] >= 0 else 0)
                mate_end = int(ends_np[m]) if end_ok[m] else (
                    int(POS[m]) if RI[m] >= 0 else 0)
                p_i = int(POS[i]) if RI[i] >= 0 else 0
                p_m = int(POS[m]) if RI[m] >= 0 else 0
                span_t = max(self_end, mate_end) - min(p_i, p_m) + 1
                tlen[i] = span_t if p_i <= p_m else -span_t
                rnext[m] = rname_py[i]
                pnext[m] = int(POS[i]) if RI[i] >= 0 else None
                tlen[m] = -tlen[i]

            # ---- flags: fold detached mate flags in
            flags = BF.copy()
            if len(det_idx):
                bits = (((MF & 1) != 0) * 0x20 + ((MF & 2) != 0) * 0x8)
                flags[det_idx] |= bits

            # ---- mapq
            mq = np.zeros(n, np.int64)
            mq[mapped] = mq_vals
            mq_null = (~mapped) | (mq == 255)

            # ---- seq: zero-copy over the assembled text when every
            # sequence lives there; mixed BA-slab sources take a list
            seq_absent = (CF & 0x8) != 0
            if not bool(unmapped_seq.any()) and text.isascii():
                soff = np.asarray(seq_off, np.int32)
                seq = pa.Array.from_buffers(
                    pa.utf8(), n,
                    [None, pa.py_buffer(soff.tobytes()),
                     pa.py_buffer(text.encode("ascii"))])
                seq_null = seq_absent | ~mapped | (RL <= 0)
                seq = pc.if_else(
                    pa.array(~seq_null), seq, pa.scalar(None, pa.utf8()))
            else:
                so = seq_off
                rl_l = RL.tolist()
                lst = []
                um = unmapped_seq.tolist()
                mp = mapped.tolist()
                ab = seq_absent.tolist()
                for i in range(n):
                    if ab[i]:
                        lst.append(None)
                    elif mp[i]:
                        s = text[so[i]:so[i] + rl_l[i]]
                        lst.append(s or None)
                    elif um[i]:
                        o = int(ba_off[i])
                        lst.append(
                            ba_buf[o:o + rl_l[i]].decode("ascii", "replace")
                            or None)
                    else:
                        lst.append(None)
                seq = pa.array(lst, type=pa.utf8())

            # ---- qual: zero-copy over the phred-rendered slab when the
            # layout is consecutive and uniformly present/absent
            has_q = (CF & 0x1) != 0
            if qs_need and qs_nonff is None and bool((qs_feat == 0).all()):
                qoff = np.empty(n + 1, np.int64)
                qoff[:n] = qs_slab
                qoff[n] = int(qs_off[-1])
                lens = np.diff(qoff)
                if not bool((lens == np.where(has_q, RL, 0)).all()):
                    return None
                tr = qs_buf.translate(_PHRED33)
                if not tr[int(qoff[0]):int(qoff[n])].isascii():
                    return None
                qual = pa.Array.from_buffers(
                    pa.utf8(), n,
                    [None, pa.py_buffer(qoff.astype(np.int32).tobytes()),
                     pa.py_buffer(tr)])
                qual = pc.if_else(
                    pa.array(has_q & (RL > 0)), qual,
                    pa.scalar(None, pa.utf8()))
            elif not qs_need or qs_nonff is False:
                qual = pa.nulls(n, pa.utf8())
            else:
                qt = qs_text
                sl = qs_slab
                rl_l = RL.tolist()
                hq = has_q.tolist()
                lst = []
                for i in range(n):
                    if hq[i] and rl_l[i] > 0:
                        o = sl[i]
                        if qs_nonff is None or (
                                qs_nonff[o + rl_l[i]] - qs_nonff[o]):
                            lst.append(qt[o:o + rl_l[i]])
                        else:
                            lst.append(None)
                    else:
                        lst.append(None)
                qual = pa.array(lst, type=pa.utf8())

            ri32 = RI.astype(np.int32)
            rname = pa.DictionaryArray.from_arrays(
                pa.array(np.where(ri_ok, ri32, 0).astype(np.int32),
                         mask=~ri_ok),
                pa.array(list(ref_names), type=pa.utf8())
            ).dictionary_decode()
            arrays = [
                qname,
                pa.array(flags.astype(np.int32)),
                rname,
                pa.array(pos_py.astype(np.int32), mask=~ri_ok),
                pa.array(mq.astype(np.int16), mask=mq_null),
                pa.array(cigars, type=pa.utf8()),
                pa.array(rnext.tolist(), type=pa.utf8()),
                pa.array(pnext.tolist(), type=pa.int32()),
                pa.array(tlen.astype(np.int32)),
                seq,
                qual,
                pa.array(np.where(end_ok, ends_np, 0).astype(np.int32),
                         mask=~(end_ok & mapped)),
            ]
            return pa.RecordBatch.from_arrays(arrays, schema=_STD_ARROW)
        except (ValueError, OverflowError, pa.ArrowInvalid):
            return None

    def _build(self, ri: int, pos: int, rl: int, feats):
        """Features → (cigar string, sequence, 1-based inclusive end)."""
        if not feats:
            # perfect match: one reference slice, no per-op accounting
            if rl <= 0:
                return None, None, None
            return (f"{rl}M", self._ref_bases(ri, pos, pos + rl - 1) or None,
                    pos + rl - 1)
        # seq accumulates string PARTS (slices/payloads), never per-char
        # lists — join once at the end; cigar ops merge in place
        cig: list[list] = []
        parts: list[str] = []
        rpos = 0  # read bases emitted
        refpos = pos  # next reference position (1-based)
        ref = self._ref_bases
        smat = self.smat

        def addc(op: str, n: int):
            if n <= 0:
                return
            if cig and cig[-1][0] == op:
                cig[-1][1] += n
            else:
                cig.append([op, n])

        for fc, fp, payload in feats:
            gap = fp - 1 - rpos
            if gap > 0:
                parts.append(ref(ri, refpos, refpos + gap - 1))
                addc("M", gap)
                refpos += gap
                rpos += gap
            if fc == "X":
                rb = ref(ri, refpos, refpos)
                parts.append(smat.get(rb, {}).get(payload, "N"))
                addc("M", 1)
                refpos += 1
                rpos += 1
            elif fc == "i":
                parts.append(payload)
                addc("I", 1)
                rpos += 1
            elif fc == "I":
                parts.append(payload)
                addc("I", len(payload))
                rpos += len(payload)
            elif fc == "S":
                parts.append(payload)
                addc("S", len(payload))
                rpos += len(payload)
            elif fc == "D":
                addc("D", payload)
                refpos += payload
            elif fc == "N":
                addc("N", payload)
                refpos += payload
            elif fc == "H":
                addc("H", payload)
            elif fc == "P":
                addc("P", payload)
            elif fc == "B":
                parts.append(payload[0])
                addc("M", 1)
                refpos += 1
                rpos += 1
            elif fc == "b":
                # stretch of verbatim bases (spec §10.4: consumes query
                # AND reference) — the no-reference profile's match op
                parts.append(payload)
                addc("M", len(payload))
                refpos += len(payload)
                rpos += len(payload)
            # 'Q' affects qualities only
        gap = rl - rpos
        if gap > 0:
            parts.append(ref(ri, refpos, refpos + gap - 1))
            addc("M", gap)
            refpos += gap
        cigar = "".join([f"{n}{op}" for op, n in cig]) or None
        return cigar, "".join(parts) or None, refpos - 1 if refpos > pos else None


class ExternalRef:
    """Reference FASTA access via the .fai index (shared faidx helpers)."""

    def __init__(self, path: str, fai_path: str | None = None):
        self.path = path
        fai = fai_path or path + ".fai"
        if not fsio.exists(fai):
            raise ValueError(f"reference FASTA needs a .fai index: {fai}")
        self.fai = read_fai(fai)

    def fetch(self, name: str, start0: int, end0: int) -> str:
        return faidx_fetch(self.path, self.fai, name, start0, end0)


# ------------------------------------------------------------- DataSource

def read_file_header(path: str) -> tuple[SamHeader, list[str], int]:
    """Parse the CRAM file definition + first (SAM header) container;
    returns (header, ref names, offset of the first data container)."""
    with fsio.open_binary(path) as f:
        head = f.read(26)
        if head[:4] != CRAM_MAGIC:
            raise ValueError("not a CRAM file (bad magic)")
        major = head[4]
        if major not in (2, 3):
            raise ValueError(f"unsupported CRAM major version {major}")
        c = Cursor(f.read(_HDR_BUF))
        h = ContainerHeader(c)
        f.seek(26 + h.body_offset)
        body = Cursor(f.read(h.length))
    _t, _cid, raw = read_block(body)
    (l_text,) = struct.unpack("<i", raw[:4])
    text = raw[4:4 + l_text].rstrip(b"\x00").decode("utf-8", "replace")
    hdr = SamHeader.parse([ln for ln in text.splitlines() if ln.startswith("@")])
    return hdr, list(hdr.chrom_names), 26 + h.body_offset + h.length


def read_crai(path: str) -> list[tuple[int, int, int, int, int, int]]:
    """Parse a .crai index (CRAM spec appendix: gzip text, one line per
    slice): ``seq_id  start(1-based)  span  container_offset  slice_offset
    slice_size``. Reference parity: `oxbow/src/alignment/scanner/cram.rs:182-200`
    (noodles crai); fixtures `sample.cram.crai`, `sample-ref.cram.crai`."""
    entries = []
    with gzip.GzipFile(fileobj=fsio.open_binary(path)) as f:
        for ln in f.read().decode("ascii", "replace").splitlines():
            ln = ln.strip()
            if not ln:
                continue
            parts = ln.split("\t")
            if len(parts) < 6:
                raise ValueError(f"malformed .crai line: {ln!r}")
            entries.append(tuple(int(x) for x in parts[:6]))
    return entries


def crai_container_slices(
    entries: list[tuple[int, int, int, int, int, int]],
) -> dict[int, list[tuple[int, int, int]]]:
    """Group .crai entries by container offset → [(seq_id, start, span)],
    ordered by file offset — the planner's container list without any
    header walk (one small index read vs O(#containers) seeks)."""
    by_container: dict[int, list[tuple[int, int, int]]] = {}
    for seq_id, start, span, c_off, _s_off, _s_len in entries:
        by_container.setdefault(c_off, []).append((seq_id, start, span))
    return dict(sorted(by_container.items()))


def scan_containers(path: str, first: int):
    """Driver-side partition planning: walk container headers without
    decoding bodies; yields (offset, ref_id, start, span, n_records)."""
    size = fsio.getsize(path)
    with fsio.open_binary(path) as f:
        off = first
        while off < size:
            f.seek(off)
            head = f.read(_HDR_BUF)
            if len(head) < 8:
                break
            c = Cursor(head)
            h = ContainerHeader(c)
            if h.is_eof:
                break
            yield off, h.ref_id, h.start, h.span, h.n_records
            off += h.body_offset + h.length


class CramPartition(InputPartition):
    def __init__(self, path: str, offset: int, regions: tuple | None = None):
        self.path = path
        self.offset = offset
        # the merged regions its container can hold records of, which its
        # records are masked by; None without a region query
        self.regions = regions


class CramReader(DataSourceReader):
    def __init__(self, src: "CramDataSource"):
        self.paths = src.paths
        self.names = src.names
        self.ref_names_by_path = src.ref_names_by_path
        self.tag_defs = src.tag_defs
        self.with_tags = src.tag_defs is not None
        self.coord_offset = src.coord_offset
        self.regions = src.regions
        self.reference_path = src.options.get("reference")
        self.reference_index_path = src.options.get("reference_index")
        self.index_path = src.options.get("index")
        self.batch_size = int(src.options.get("batch_size", DEFAULT_BATCH_SIZE))
        self.limit = int(src.options.get("limit", -1))
        self.spark_schema = src.spark_schema
        self._arrow_schema = to_arrow_schema(src.spark_schema)
        self.first_offsets = src.first_offsets

    def partitions(self):
        parts: list[CramPartition] = []
        for path in self.paths:
            first = self.first_offsets[path]
            ref_names = self.ref_names_by_path[path]
            want_unmapped = any(r.is_unmapped for r in self.regions)
            mapped = [
                r for r in self.regions
                if not r.is_unmapped and r.name in ref_names
            ]
            unmapped = _coords.Region(_coords.UNMAPPED)
            # planner input: the .crai index when present (one small gzip
            # read) — else a container-header walk, O(#containers) driver
            # seeks (tens of thousands on a 100 GB CRAM)
            crai_path = self.index_path or path + ".crai"
            if fsio.exists(crai_path):
                by_container = crai_container_slices(read_crai(crai_path))
                for off, slices in by_container.items():
                    if not self.regions:
                        parts.append(CramPartition(path, off))
                        continue
                    entries: list[_coords.Region] = []
                    for seq_id, s_start, s_span in slices:
                        if seq_id == -1:
                            if want_unmapped and unmapped not in entries:
                                entries.append(unmapped)
                            continue
                        if seq_id < -1:
                            # defensive: unknown negative id → no pruning
                            entries = mapped + (
                                [unmapped] if want_unmapped else []
                            )
                            break
                        s_lo, s_hi = s_start - 1, s_start - 1 + s_span
                        for reg in mapped:
                            if seq_id != ref_names.index(reg.name):
                                continue
                            if s_span > 0 and reg.end is not None and s_lo >= reg.end:
                                continue
                            if s_span > 0 and s_hi <= reg.start:
                                continue
                            if reg not in entries:
                                entries.append(reg)
                    if entries:
                        parts.append(CramPartition(path, off, tuple(entries)))
                continue
            for off, ref_id, start, span, _n in scan_containers(path, first):
                if not self.regions:
                    parts.append(CramPartition(path, off))
                    continue
                # container-level pruning on (ref, start, span); at most ONE
                # partition per container, masked by the
                # union of merged regions, so a record overlapping two
                # regions is emitted exactly once
                if ref_id == -1:
                    if want_unmapped:
                        parts.append(CramPartition(path, off, (unmapped,)))
                    continue
                entries = list(mapped) if ref_id == -2 else []
                if ref_id >= 0:
                    for reg in mapped:
                        if ref_id != ref_names.index(reg.name):
                            continue
                        c_lo, c_hi = start - 1, start - 1 + span  # 0-based half-open
                        if span > 0 and reg.end is not None and c_lo >= reg.end:
                            continue
                        if span > 0 and c_hi <= reg.start:
                            continue
                        entries.append(reg)
                if want_unmapped and ref_id == -2:
                    entries.append(unmapped)  # multiref slices may hold unmapped
                if entries:
                    parts.append(CramPartition(path, off, tuple(entries)))
        return parts or [CramPartition(self.paths[0], -1)]

    def _emit(self, rows):
        cols = list(zip(*rows)) if rows else [[] for _ in self._arrow_schema]
        arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, self._arrow_schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=self._arrow_schema)

    def read(self, part: CramPartition):
        if part.offset < 0:
            yield self._emit([])
            return
        reference = (
            ExternalRef(self.reference_path, self.reference_index_path)
            if self.reference_path else None
        )
        with fsio.open_binary(part.path) as f:
            f.seek(part.offset)
            head = f.read(_HDR_BUF)
            c = Cursor(head)
            h = ContainerHeader(c)
            f.seek(part.offset + h.body_offset)
            body = Cursor(f.read(h.length))
        ctype, _cid, raw = read_block(body)
        if ctype != 1:
            raise ValueError("expected compression header block")
        comp = parse_comp_header(raw)
        std_idx = [STANDARD_FIELD_NAMES.index(n) for n in self.names]
        project = self.names != STANDARD_FIELD_NAMES or self.with_tags
        ref_names = self.ref_names_by_path[part.path]
        rows, n = [], 0
        while body.p < len(body.b):
            dec = SliceDecoder(comp, body, ref_names, reference)
            kind, out_any = dec.records_any(self.with_tags)
            if kind == "arrow":
                # columnar slice: region filter / coord shift / project /
                # limit all stay vectorized — no per-record Python at all
                if rows:
                    yield self._emit(rows)  # preserve record order
                    rows = []
                batch = out_any
                if part.regions is not None:
                    batch = batch.filter(_coords.region_mask(
                        part.regions, batch.column(2),
                        pc.subtract(batch.column(3), 1), batch.column(11)))
                if self.coord_offset:
                    batch = _arrow_shift(batch, (3, 7), self.coord_offset)
                if 0 <= self.limit:
                    batch = batch.slice(0, max(self.limit - n, 0))
                n += batch.num_rows
                final = pa.RecordBatch.from_arrays(
                    [batch.column(i) for i in std_idx],
                    schema=self._arrow_schema)
                for off in range(0, final.num_rows, self.batch_size):
                    yield final.slice(off, self.batch_size)
                if 0 <= self.limit <= n:
                    break
                continue
            if part.regions is not None:
                keep = _coords.region_mask(
                    part.regions, [row[2] for row, _ in out_any],
                    [None if row[3] is None else row[3] - 1 for row, _ in out_any],
                    [row[11] for row, _ in out_any])
                out_any = [rt for rt, k in zip(out_any, keep) if k]
            for row, tags in out_any:
                if self.coord_offset:
                    for i in (3, 7):
                        if row[i] is not None:
                            row[i] += self.coord_offset
                out = [row[i] for i in std_idx] if project else row
                if self.with_tags:
                    out = list(out) + [{
                        d.name: (d.parse(*tags[d.name]) if d.name in tags else None)
                        for d in self.tag_defs
                    }]
                rows.append(out)
                n += 1
                if len(rows) >= self.batch_size:
                    yield self._emit(rows)
                    rows = []
                if 0 <= self.limit <= n:
                    break
            if 0 <= self.limit <= n:
                break
        yield self._emit(rows)


class PushdownCramReader(CramReader):
    """CramReader + automatic filter→region pushdown; only planned on
    sessions with spark.sql.python.filterPushdown.enabled (see
    sources/pushdown.py)."""

    def pushFilters(self, filters):
        """(rname =, pos range) conjuncts → container-pruning region; all
        filters stay residual (Spark re-applies them post-scan)."""
        if not self.regions:
            reg = region_from_filters(filters, "rname", "pos", self.coord_offset)
            if reg is not None:
                self.regions = [reg]
        return filters


_TAG_CODE = {"c": "i", "C": "i", "s": "i", "S": "i", "i": "i", "I": "i",
             "f": "f", "A": "A", "Z": "Z", "H": "H"}


class CramDataSource(GenomicStreamMixin, DataSource):
    NATIVE_CS = "11"

    @classmethod
    def name(cls) -> str:
        return "cram"

    def __init__(self, options: dict):
        super().__init__(options)
        self.paths = self._find_paths()
        self.names = select_fields(STANDARD_FIELD_NAMES, options.get("fields"))
        requested = options.get("coords", self.NATIVE_CS)
        self.coord_offset = _coords.start_offset(self.NATIVE_CS, requested)
        self.regions = _coords.merge_regions(_coords.parse_regions(
            options.get("regions"), options.get("region_cs", self.NATIVE_CS)
        ))
        self.first_offsets: dict[str, int] = {}
        # per-path @SQ dictionaries: a multi-file glob may mix CRAMs with
        # different reference dictionaries, and rname/rnext decode must use
        # the owning file's list
        self.ref_names_by_path: dict[str, list[str]] = {}
        hdr = None
        for p in self.paths:
            hdr_p, names, first = read_file_header(p)
            if hdr is None:
                hdr = hdr_p
            self.first_offsets[p] = first
            self.ref_names_by_path[p] = names
        self.sam_header = hdr
        self.ref_names = (
            self.ref_names_by_path[self.paths[0]] if self.paths else [])
        self.tag_defs = self._tag_defs() if self.paths else None
        fields = [T.StructField(nm, dict(STANDARD_FIELDS)[nm], True) for nm in self.names]
        if self.tag_defs is not None:
            fields.append(T.StructField("tags", tags_struct(self.tag_defs)))
        self.spark_schema = T.StructType(fields)

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.cram_write import CramWriter

        return CramWriter(self.options, overwrite)

    def header(self) -> SamHeader:
        return self.sam_header

    def _tag_defs(self) -> list[TagDef] | None:
        explicit = self.options.get("tag_defs")
        if explicit:
            return [TagDef(*spec.strip().split(":", 1)) for spec in explicit.split(",")]
        if not self.options.get("tags"):
            return None
        # tag discovery = the TD dictionaries in container compression
        # headers (driver-side header walk; no record decode)
        order: list[str] = []
        codes: dict[str, str] = {}
        for p in self.paths:
            with fsio.open_binary(p) as f:
                for off, *_ in scan_containers(p, self.first_offsets[p]):
                    f.seek(off)
                    head = f.read(_HDR_BUF)
                    c = Cursor(head)
                    h = ContainerHeader(c)
                    f.seek(off + h.body_offset)
                    body = Cursor(f.read(h.length))
                    ctype, _cid, raw = read_block(body)
                    if ctype != 1:
                        continue
                    _pres, _series, _tag_encs, td = parse_comp_header(raw)
                    for line in td:
                        for tag, typ in line:
                            if tag not in codes:
                                order.append(tag)
                                codes[tag] = _TAG_CODE.get(typ, "Z")
        return [TagDef(nm, codes[nm]) for nm in order]

    def schema(self) -> T.StructType:
        return self.spark_schema

    def reader(self, schema: T.StructType) -> CramReader:
        from oxbow_spark.sources.pushdown import pushdown_enabled

        self._require_paths()
        return PushdownCramReader(self) if pushdown_enabled() else CramReader(self)
