"""The fixture directory of the tests, and a seeded corpus that stands in
for the oxbow checkout's ``fixtures/`` when that checkout is absent.

``fixtures_dir()`` resolves the directory the fixture tests read, the
first of these that exists:

1. ``$OXBOW_SPARK_FIXTURES`` (an oxbow checkout's ``fixtures/``);
2. ``CHECKOUT_FIXTURES``, the fixtures of an oxbow checkout named
   ``reference`` beside this repository;
3. a corpus that ``write_corpus`` generates once per test session in a
   temporary directory.

The generated corpus follows FIXTURES.md: contigs chr1-chr3 at their
GRCh38 lengths, with every coordinate-bearing file's records tiling the
first ``SPAN`` bases of each contig, starts ``MIN_STRIDE``..``MAX_STRIDE``
apart, plus the edge cases FIXTURES.md lists per table and the
``malformed.*`` twins. ``MAX_STRIDE`` is the shortest reference span of a
primary read, so the reads cover every base of the tiled span whatever
the seed. It is encoded here with struct/zlib/gzip and
numpy, never with oxbow_spark's writers, so a reader test stays an
independent check. Tests that assert facts of the checkout's own files
(htslib-made CRAM, UCSC bigWig/bigBed, literal counts and records) carry
``needs_checkout`` and run only where the checkout exists.

``python tests/corpus.py OUT_DIR`` writes the corpus to OUT_DIR.
"""

from __future__ import annotations

import atexit
import gzip
import os
import shutil
import struct
import sys
import tempfile
from dataclasses import dataclass, field

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.inputs import RefIndex, bgzf_bytes, ref_index, reg2bin  # noqa: E402
from tests.bcf_synth import (  # noqa: E402
    BGZF_EOF,
    bgzf_block,
    typed_int,
    typed_meta,
    typed_str,
)

ENV_VAR = "OXBOW_SPARK_FIXTURES"
#: an oxbow checkout named ``reference`` beside this repository
CHECKOUT_FIXTURES = os.path.join(os.path.dirname(REPO), "reference", "fixtures")
#: the oxbow checkout's fixture directory; the tests that need its own
#: files skip when it does not exist
CHECKOUT = next((d for d in (os.environ.get(ENV_VAR), CHECKOUT_FIXTURES)
                 if d and os.path.isdir(d)), CHECKOUT_FIXTURES)
needs_checkout = pytest.mark.skipif(
    not os.path.isdir(CHECKOUT),
    reason=f"needs the oxbow checkout's own fixture files ({ENV_VAR})")

SEED = 20240
CONTIGS = (("chr1", 248_956_422), ("chr2", 242_193_529),
           ("chr3", 198_295_559))
SPAN = 256_000           # records tile each contig's first SPAN bases
READ_LEN = 250
MAX_CLIP = 40            # the longest clip of a primary read
MIN_STRIDE = 200         # record starts are MIN_STRIDE..MAX_STRIDE apart
MAX_STRIDE = READ_LEN - MAX_CLIP
SAMPLES = ("NA12878", "NA12891", "NA12892")

_BLOCK = 0xFF00          # BGZF payload per block, as htslib writes it
_META_BIN = 37450        # BAI/CSI(depth 5) pseudo-bin of per-ref counts
_generated: str | None = None


def fixtures_dir() -> str:
    """The fixture directory: the checkout's when it exists, else the
    generated corpus."""
    return CHECKOUT if os.path.isdir(CHECKOUT) else generated_dir()


def generated_dir() -> str:
    """The generated corpus, whether or not the checkout exists: written
    on first call, removed at exit. Tests that compare two encodings of
    the same records read it, since the checkout's twins are unrelated
    files."""
    global _generated
    if _generated is None:
        d = tempfile.mkdtemp(prefix="oxbow-spark-fixtures-")
        atexit.register(shutil.rmtree, d, True)
        write_corpus(d)
        _generated = d
    return _generated


# ------------------------------------------------------- BGZF and indexes


class _Bgzf:
    """A BGZF stream of a header (own blocks, as htslib writes a BAM or
    BCF header) and a body, and the virtual offset of any body byte."""

    def __init__(self, header: bytes, body: bytes, block: int = _BLOCK):
        self.block = block
        self.blocks = [bgzf_block(part[i:i + block]) for part in (header, body)
                       for i in range(0, len(part), block)]
        sizes = [len(b) for b in self.blocks]
        n_head = -(-len(header) // block)
        self._coff = np.cumsum([0] + sizes)[n_head:].tolist()

    def voffset(self, u: int) -> int:
        k = min(u // self.block, len(self._coff) - 1)
        return (self._coff[k] << 16) | (u - k * self.block)

    def offsets(self, records: list[bytes]) -> tuple[list[int], list[int]]:
        """Start and end virtual offsets of body records laid end to end."""
        ends = np.cumsum([0] + [len(r) for r in records]).tolist()
        v = [self.voffset(u) for u in ends]
        return v[:-1], v[1:]

    def data(self) -> bytes:
        return b"".join(self.blocks) + BGZF_EOF


def _indexes(tids, begs, ends, vs, ve, unmapped=None) -> list[RefIndex]:
    """Per-contig bins, chunks and linear index of records in file order
    (0-based half-open), plus htslib's pseudo-bin: the contig's virtual
    offset span and its (mapped, unmapped) counts."""
    tids, begs, ends = (np.asarray(x, dtype=np.int64) for x in (tids, begs, ends))
    vs, ve = (np.asarray(x, dtype=np.uint64) for x in (vs, ve))
    unmapped = np.zeros(len(tids), bool) if unmapped is None else np.asarray(unmapped)
    refs = []
    for t in range(len(CONTIGS)):
        m = tids == t
        r = ref_index(begs[m], ends[m], vs[m], ve[m])
        n_un = int(unmapped[m].sum())
        r.bins[_META_BIN] = [(int(vs[m][0]), int(ve[m][-1])),
                             (int(m.sum()) - n_un, n_un)]
        r.loffsets[_META_BIN] = 0
        refs.append(r)
    return refs


def _ref_bytes(refs: list[RefIndex], csi: bool) -> bytes:
    out = [struct.pack("<i", len(refs))]
    for r in refs:
        out.append(struct.pack("<i", len(r.bins)))
        for bn in sorted(r.bins):
            loff = struct.pack("<Q", r.loffsets[bn]) if csi else b""
            out.append(struct.pack("<I", bn) + loff
                       + struct.pack("<i", len(r.bins[bn])))
            out.append(np.array(r.bins[bn], dtype="<u8").tobytes())
        if not csi:
            out.append(struct.pack("<i", len(r.linear))
                       + r.linear.astype("<u8").tobytes())
    return b"".join(out)


def _tabix_conf(preset: int, cols: tuple[int, int, int]) -> bytes:
    names = b"".join(n.encode() + b"\x00" for n, _ in CONTIGS)
    return struct.pack("<7i", preset, *cols, ord("#"), 0, len(names)) + names


def _bai(refs, n_no_coor: int) -> bytes:
    return b"BAI\x01" + _ref_bytes(refs, False) + struct.pack("<Q", n_no_coor)


def _tbi(refs, conf: bytes) -> bytes:
    n_ref = struct.pack("<i", len(refs))
    return bgzf_bytes(b"TBI\x01" + n_ref + conf + _ref_bytes(refs, False)[4:])


def _csi(refs, aux: bytes = b"") -> bytes:
    return bgzf_bytes(b"CSI\x01" + struct.pack("<3i", 14, 5, len(aux)) + aux
                      + _ref_bytes(refs, True) + struct.pack("<Q", 0))


def _write(path: str, data: bytes | str) -> None:
    with open(path, "wb") as f:
        f.write(data.encode() if isinstance(data, str) else data)


def write_bgzf(path: str, data: bytes, block: int) -> None:
    """bgzip-compress ``data`` in ``block``-byte chunks + write the .gzi."""
    out, entries, coff, uoff = [], [], 0, 0
    for i in range(0, len(data), block):
        b = bgzf_block(data[i:i + block])
        out.append(b)
        coff += len(b)
        uoff += min(block, len(data) - i)
        entries.append((coff, uoff))
    _write(path, b"".join(out) + BGZF_EOF)
    entries = entries[:-1]  # gzi lists block *starts* after the first
    _write(path + ".gzi", struct.pack("<Q", len(entries)) + b"".join(
        struct.pack("<QQ", c, u) for c, u in entries))


def _indexed_text(path, header: str, lines: list[str], tids, begs, ends,
                  block: int):
    """Write a bgzipped text file; return its per-line index."""
    head = header.encode()
    recs = [ln.encode() for ln in lines]
    stream = _Bgzf(b"", head + b"".join(recs), block)
    vs, ve = stream.offsets([head] + recs)
    _write(path, stream.data())
    return _indexes(tids, begs, ends, vs[1:], ve[1:])


# ------------------------------------------------------------- reference


_COMP = str.maketrans("ACGTNacgtn", "TGCANtgcan")
_WORSE = str.maketrans({chr(q): chr(max(35, q - 10)) for q in range(35, 75)})


def _reference(rng) -> dict[str, str]:
    """The first SPAN bases of each contig: ~41% GC, with soft-masked
    (lowercase) repeats and one N gap per contig."""
    out = {}
    for name, _ln in CONTIGS:
        codes = rng.choice(4, size=SPAN, p=[0.295, 0.205, 0.205, 0.295])
        seq = bytearray(np.frombuffer(b"ACGT", np.uint8)[codes].tobytes())
        for _ in range(8):
            lo = int(rng.integers(0, SPAN - 3000))
            hi = lo + int(rng.integers(300, 3000))
            seq[lo:hi] = seq[lo:hi].lower()
        lo = int(rng.integers(SPAN // 4, SPAN // 2))
        n = int(rng.integers(100, 400))
        seq[lo:lo + n] = b"N" * n
        out[name] = seq.decode()
    return out


def _tiling(rng, length: int) -> list[int]:
    """0-based starts, MIN_STRIDE..MAX_STRIDE apart, for records of up to
    ``length`` bases inside SPAN."""
    starts, s = [], int(rng.integers(0, 20))
    while s + length <= SPAN:
        starts.append(s)
        s += int(rng.integers(MIN_STRIDE, MAX_STRIDE + 1))
    return starts


# ------------------------------------------------------------ alignments


@dataclass
class _Read:
    qname: str
    flag: int
    tid: int = -1
    pos: int = -1                # 0-based
    mapq: int = 255
    cigar: list = field(default_factory=list)   # [(n, op)]
    mtid: int = -1
    mpos: int = -1
    tlen: int = 0
    seq: str = ""
    qual: str | None = None     # Phred+33
    tags: list = field(default_factory=list)    # [(tag, type, value)]

    @property
    def ref_len(self) -> int:
        return sum(n for n, op in self.cigar if op in "MDN=X")

    @property
    def end(self) -> int:        # 0-based exclusive
        return self.pos + max(self.ref_len, 1)


def _qual(rng, n: int) -> str:
    """Phred+33 qualities: a random walk between 2 and 41."""
    q = np.clip(34 + np.cumsum(rng.integers(-3, 4, size=n)) // 2, 2, 41)
    return (q + 33).astype(np.uint8).tobytes().decode()


def _random_bases(rng, n: int) -> str:
    return np.frombuffer(b"ACGT", np.uint8)[rng.integers(0, 4, size=n)] \
        .tobytes().decode()


def _cigar(rng) -> list[tuple[int, str]]:
    """A primary read's CIGAR; it spans at least READ_LEN - MAX_CLIP
    reference bases."""
    L = READ_LEN
    kind = rng.choice(8, p=[0.55, 0.08, 0.08, 0.08, 0.08, 0.05, 0.03, 0.05])
    a = int(rng.integers(30, L - 30))
    if kind == 0:
        return [(L, "M")]
    if kind in (1, 2):
        s = int(rng.integers(3, 31))
        return [(s, "S"), (L - s, "M")] if kind == 1 else [(L - s, "M"), (s, "S")]
    if kind == 3:
        i = int(rng.integers(1, 6))
        return [(a, "M"), (i, "I"), (L - a - i, "M")]
    if kind == 4:
        return [(a, "M"), (int(rng.integers(1, 7)), "D"), (L - a, "M")]
    if kind == 5:
        h = int(rng.integers(5, MAX_CLIP + 1))
        return [(h, "H"), (L - h, "M")]
    if kind == 6:
        return [(a, "M"), (int(rng.integers(50, 400)), "N"), (L - a, "M")]
    s = int(rng.integers(3, 21))
    return [(s, "S"), (a - s, "M"), (int(rng.integers(1, 4)), "D"),
            (L - a, "M")]


def _align(rng, ref: str, pos: int, cigar) -> tuple[str, int, str]:
    """Read bases for ``cigar`` at ``pos`` (~1% mismatches); NM and MD."""
    seq, md, run, nm, rp = [], [], 0, 0, pos
    for n, op in cigar:
        if op == "M":
            seg, last = list(ref[rp:rp + n].upper()), 0
            for k in np.flatnonzero(rng.random(n) < 0.01).tolist():
                if seg[k] == "N":
                    continue
                md.append(f"{run + k - last}{seg[k]}")
                seg[k] = "ACGT"[("ACGT".index(seg[k]) + int(rng.integers(1, 4))) % 4]
                run, last, nm = 0, k + 1, nm + 1
            run += n - last
            seq.append("".join(seg))
            rp += n
        elif op in "IS":
            seq.append(_random_bases(rng, n))
            nm += n if op == "I" else 0
        elif op == "D":
            md.append(f"{run}^{ref[rp:rp + n].upper()}")
            run, nm, rp = 0, nm + n, rp + n
        elif op == "N":
            rp += n
    md.append(str(run))
    return "".join(seq), nm, "".join(md)


def _mapped(rng, ref, tid, pos, qname, flag) -> _Read:
    cigar = _cigar(rng)
    seq, nm, md = _align(rng, ref, pos, cigar)
    mapq = 255 if rng.random() < 0.02 else int(
        60 if rng.random() < 0.8 else rng.integers(0, 60))
    tags = [("NM", "i", nm), ("MD", "Z", md)]
    if rng.random() < 0.9:
        tags.append(("AS", "i", len(seq) - 5 * nm))
    if rng.random() < 0.6:
        tags.append(("XS", "f", float(rng.integers(0, 400)) / 4))
    tags.append(("RG", "Z", "rg1"))
    if rng.random() < 0.05:
        tags.append(("BQ", "B", [int(x) for x in rng.integers(0, 64, size=4)]))
    return _Read(qname, flag, tid, pos, mapq, cigar, seq=seq,
                 qual=None if rng.random() < 0.02 else _qual(rng, len(seq)),
                 tags=tags)


def _unmapped(rng, qname, flag, tid=-1, pos=-1) -> _Read:
    return _Read(qname, flag, tid, pos, 0, [], seq=_random_bases(rng, READ_LEN),
                 qual=_qual(rng, READ_LEN), tags=[("RG", "Z", "rg1")])


def _mate(a: _Read, b: _Read) -> None:
    """Fill the mate fields and TLEN of a pair."""
    a.mtid, a.mpos, b.mtid, b.mpos = b.tid, b.pos, a.tid, a.pos
    a.flag |= 0x20 if b.flag & 0x10 else 0
    b.flag |= 0x20 if a.flag & 0x10 else 0
    if not (a.flag | b.flag) & 0x4:
        span = max(a.end, b.end) - min(a.pos, b.pos)
        a.tlen, b.tlen = (span, -span) if a.pos <= b.pos else (-span, span)


def _alignments(rng, ref: dict[str, str]) -> list[_Read]:
    """Paired and single-end reads tiling SPAN on each contig, with the
    FIXTURES.md T1 edge cases: clips, indels, splices, duplicate groups,
    secondary/supplementary/QC-fail records, mates left unmapped, and
    unplaced unmapped pairs at the end."""
    reads: list[_Read] = []
    n = 0

    def name():
        nonlocal n
        n += 1
        return f"read{n:05d}"

    for tid, (chrom, _ln) in enumerate(CONTIGS):
        seq = ref[chrom]
        starts = _tiling(rng, READ_LEN + 420)
        i = 0
        while i < len(starts):
            block = starts[i:i + 4]
            i += 4
            if len(block) < 4 or rng.random() < 0.12:       # single-end
                for s in block:
                    r = _mapped(rng, seq, tid, s, name(),
                                0x10 if rng.random() < 0.5 else 0)
                    reads.append(r)
                    extra = rng.random()
                    if extra < 0.08:                        # mate unmapped
                        r.flag |= 0x1 | 0x8 | 0x40
                        m = _unmapped(rng, r.qname, 0x1 | 0x4 | 0x80, tid, s)
                        _mate(r, m)
                        reads.append(m)
                    elif extra < 0.12:                      # secondary
                        s2 = int(rng.integers(0, SPAN - READ_LEN))
                        t2 = int(rng.integers(0, len(CONTIGS)))
                        sec = _Read(r.qname, 0x100 | (r.flag & 0x10), t2, s2,
                                    0, [(READ_LEN, "M")],
                                    tags=[("NM", "i", 0), ("RG", "Z", "rg1")])
                        reads.append(sec)
                    elif extra < 0.15:                      # supplementary
                        h = int(rng.integers(20, 80))
                        s2 = int(rng.integers(0, SPAN - READ_LEN))
                        sup = _mapped(rng, seq, tid, s2, r.qname, 0x800)
                        sup.cigar = [(h, "H"), (READ_LEN - h, "M")]
                        sup.seq, nm, md = _align(rng, seq, s2, sup.cigar)
                        sup.qual = _qual(rng, len(sup.seq))
                        sup.tags = [("NM", "i", nm), ("MD", "Z", md),
                                    ("RG", "Z", "rg1")]
                        reads.append(sup)
                continue
            for a_s, b_s in ((block[0], block[2]), (block[1], block[3])):
                q = name()
                first = 0x40 if rng.random() < 0.5 else 0x80
                a = _mapped(rng, seq, tid, a_s, q, 0x1 | 0x2 | first)
                b = _mapped(rng, seq, tid, b_s, q, 0x1 | 0x2 | 0x10
                            | (0xC0 ^ first))
                _mate(a, b)
                reads += [a, b]
                if rng.random() < 0.05:                     # duplicate pair
                    q2 = name()
                    for src in (a, b):
                        d = _Read(**{**src.__dict__, "qname": q2,
                                     "flag": src.flag | 0x400})
                        d.qual = src.qual and src.qual.translate(_WORSE)
                        reads.append(d)
    for r in rng.choice(len(reads), size=len(reads) // 100, replace=False):
        reads[int(r)].flag |= 0x200                         # QC fail
    for _ in range(12):                                     # unplaced pairs
        q = name()
        a = _unmapped(rng, q, 0x1 | 0x4 | 0x8 | 0x40)
        b = _unmapped(rng, q, 0x1 | 0x4 | 0x8 | 0x80)
        reads += [a, b]
    reads.sort(key=lambda r: (r.tid if r.tid >= 0 else len(CONTIGS), r.pos))
    return reads


def _sam_header() -> str:
    return ("@HD\tVN:1.6\tSO:coordinate\n"
            + "".join(f"@SQ\tSN:{c}\tLN:{ln}\n" for c, ln in CONTIGS)
            + "@RG\tID:rg1\tSM:NA12878\tLB:lib1\tPL:ILLUMINA\n"
            + "@PG\tID:corpus\tPN:corpus.py\tVN:1\n")


def _tag_text(tag, typ, v) -> str:
    if typ == "B":
        return f"{tag}:B:C," + ",".join(map(str, v))
    return f"{tag}:{typ}:{v!r}" if typ == "f" else f"{tag}:{typ}:{v}"


def _sam_line(r: _Read) -> str:
    names = [c for c, _ in CONTIGS]
    rnext = ("*" if r.mtid < 0 else "=" if r.mtid == r.tid
             else names[r.mtid])
    cols = [r.qname, str(r.flag), names[r.tid] if r.tid >= 0 else "*",
            str(r.pos + 1), str(r.mapq),
            "".join(f"{n}{op}" for n, op in r.cigar) or "*", rnext,
            str(r.mpos + 1), str(r.tlen), r.seq or "*",
            r.qual if r.qual is not None and r.seq else "*"]
    return "\t".join(cols + [_tag_text(*t) for t in r.tags]) + "\n"


_NIB = bytes.maketrans(b"=ACMGRSVTWYHKDBN", bytes(range(16)))


def _tag_bin(tag, typ, v) -> bytes:
    if typ == "Z":
        return tag.encode() + b"Z" + v.encode() + b"\x00"
    if typ == "f":
        return tag.encode() + b"f" + struct.pack("<f", v)
    if typ == "B":
        return (tag.encode() + b"BC" + struct.pack("<i", len(v))
                + bytes(v))
    for code, fmt, lo, hi in (("C", "B", 0, 255), ("c", "b", -128, 127),
                              ("S", "H", 0, 65535), ("s", "h", -32768, 32767),
                              ("I", "I", 0, 2**32 - 1)):
        if lo <= v <= hi:
            return tag.encode() + code.encode() + struct.pack("<" + fmt, v)
    return tag.encode() + b"i" + struct.pack("<i", v)


def _bam_record(r: _Read) -> bytes:
    ops = "MIDNSHP=X"
    codes = np.frombuffer(r.seq.encode().translate(_NIB), np.uint8)
    if len(codes) % 2:
        codes = np.append(codes, 0)
    seq = ((codes[0::2] << 4) | codes[1::2]).astype(np.uint8).tobytes()
    qual = (bytes(np.frombuffer(r.qual.encode(), np.uint8) - 33)
            if r.qual is not None else b"\xff" * len(r.seq))
    beg = r.pos if r.pos >= 0 else -1
    bn = int(reg2bin(np.array([beg]), np.array([r.end if beg >= 0 else 0]))[0])
    body = (struct.pack("<iiBBHHHiiii", r.tid, r.pos, len(r.qname) + 1,
                        r.mapq, bn, len(r.cigar), r.flag, len(r.seq),
                        r.mtid, r.mpos, r.tlen)
            + r.qname.encode() + b"\x00"
            + b"".join(struct.pack("<I", (n << 4) | ops.index(op))
                       for n, op in r.cigar)
            + seq + qual + b"".join(_tag_bin(*t) for t in r.tags))
    return struct.pack("<i", len(body)) + body


def _write_alignments(d: str, reads: list[_Read], block: int) -> None:
    hdr = _sam_header()
    _write(f"{d}/sample.sam", hdr + "".join(_sam_line(r) for r in reads))
    text = hdr.encode()
    head = (b"BAM\x01" + struct.pack("<i", len(text)) + text
            + struct.pack("<i", len(CONTIGS))
            + b"".join(struct.pack("<i", len(c) + 1) + c.encode() + b"\x00"
                       + struct.pack("<i", ln) for c, ln in CONTIGS))
    recs = [_bam_record(r) for r in reads]
    stream = _Bgzf(head, b"".join(recs), block)
    vs, ve = stream.offsets(recs)
    data = stream.data()
    _write(f"{d}/sample.bam", data)
    placed = [r for r in reads if r.tid >= 0]       # unplaced reads come last
    n = len(placed)
    refs = _indexes([r.tid for r in placed], [r.pos for r in placed],
                    [r.end for r in placed], vs[:n], ve[:n],
                    [bool(r.flag & 0x4) for r in placed])
    _write(f"{d}/sample.bam.bai", _bai(refs, len(reads) - n))
    # malformed twin: the header block's deflate stream opens with a
    # reserved block type, so inflating it must fail
    bad = bytearray(data)
    bad[18] = 0x07
    _write(f"{d}/malformed.bam", bytes(bad))
    fq = []
    for r in reads:
        if r.flag & 0x900 or not r.seq:
            continue
        seq, qual = r.seq, r.qual or "?" * len(r.seq)
        if r.flag & 0x10:
            seq, qual = seq.translate(_COMP)[::-1], qual[::-1]
        mate = 2 if r.flag & 0x80 else 1
        flt = "Y" if r.flag & 0x200 else "N"
        fq.append(f"@{r.qname} {mate}:{flt}:0:ACGTAC\n{seq}\n+\n"
                  + qual + "\n")
    _write(f"{d}/sample.fastq", "".join(fq))
    _write(f"{d}/sample.fastq.gz", gzip.compress("".join(fq).encode(), mtime=0))
    # malformed twin: one record lost its '+' separator line (one whose
    # quality line cannot pass for a separator)
    bad = fq[:40]
    k = next(i for i in range(20, 40) if not bad[i].split("\n")[3].startswith("+"))
    head, seq, _plus, qual, _ = bad[k].split("\n")
    bad[k] = f"{head}\n{seq}\n{qual}\n"
    _write(f"{d}/malformed.fastq", "".join(bad))


# -------------------------------------------------------------- variants

_FILTERS = ("PASS", "q10", "s50")
_INFO = (("DP", "1", "Integer"), ("AF", "A", "Float"), ("AC", "A", "Integer"),
         ("AN", "1", "Integer"), ("DB", "0", "Flag"), ("END", "1", "Integer"),
         ("HQ", "2", "Integer"))
_FORMAT = (("GT", "1", "String"), ("DP", "1", "Integer"),
           ("GQ", "1", "Integer"), ("AD", "R", "Integer"),
           ("PL", "G", "Integer"))


def _vcf_header() -> str:
    lines = ["##fileformat=VCFv4.3", "##fileDate=20240101",
             "##source=corpus.py", "##reference=sample.fasta"]
    lines += [f"##contig=<ID={c},length={ln}>" for c, ln in CONTIGS]
    lines += [f'##FILTER=<ID={f},Description="{f}">' for f in _FILTERS]
    lines += [f'##INFO=<ID={k},Number={n},Type={t},Description="{k}">'
              for k, n, t in _INFO]
    lines += [f'##FORMAT=<ID={k},Number={n},Type={t},Description="{k}">'
              for k, n, t in _FORMAT]
    lines.append("\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL",
                            "FILTER", "INFO", "FORMAT", *SAMPLES]))
    return "\n".join(lines) + "\n"


@dataclass
class _Variant:
    tid: int
    pos: int                     # 1-based
    ids: list
    ref: str
    alts: list
    qual: float | None
    filters: list | None         # None → '.'
    info: list                   # [(key, value)]; flag → True
    fmt: list
    calls: list                  # per sample: {key: value}

    @property
    def rlen(self) -> int:
        end = dict(self.info).get("END")
        return end - self.pos + 1 if end else len(self.ref)


def _variants(rng, ref: dict[str, str]) -> list[_Variant]:
    """FIXTURES.md T2: SNPs, MNPs, indels, symbolic deletions and
    multi-allelic sites; phased, unphased and missing genotypes; '.'
    and empty ID/QUAL/FILTER/INFO; FORMAT layouts that vary by record."""
    out = []
    for tid, (chrom, _ln) in enumerate(CONTIGS):
        seq = ref[chrom].upper()
        for s in _tiling(rng, 10):
            while seq[s] == "N":
                s += 1
            base = seq[s]
            others = [b for b in "ACGT" if b != base]
            kind = rng.choice(6, p=[0.62, 0.1, 0.1, 0.04, 0.04, 0.1])
            info: list = []
            if kind == 0:
                r, alts = base, [others[int(rng.integers(0, 3))]]
            elif kind == 1:
                r, alts = base, [base + _random_bases(rng, int(rng.integers(1, 6)))]
            elif kind == 2:
                r = seq[s:s + int(rng.integers(2, 7))]
                alts = [r[0]]
            elif kind == 3:
                r = seq[s:s + 2]
                alts = ["".join(b for b in "ACGT" if b not in r)[:2]]
            elif kind == 4:
                r, alts = base, ["<DEL>"]
                info.append(("END", s + 1 + int(rng.integers(50, 150))))
            else:
                k = int(rng.integers(2, 4))
                alts = [others[j] for j in rng.permutation(3)[:k]]
                if rng.random() < 0.3:
                    alts[-1] = base + "T"
                r = base
            fmt = ["GT", "DP", "GQ", "AD", "PL"]
            u = rng.random()
            if u < 0.15:
                fmt = ["GT", "DP"]
            elif u < 0.2:
                fmt = ["GT"]
            calls, ac, an = [], [0] * len(alts), 0
            for _ in SAMPLES:
                if rng.random() < 0.05:
                    gt = ([None, None], False)
                else:
                    gt = ([int(x) for x in rng.integers(0, len(alts) + 1, size=2)],
                          bool(rng.random() < 0.3))
                    if not gt[1]:
                        gt = (sorted(gt[0]), False)
                    for a in gt[0]:
                        an += 1
                        if a:
                            ac[a - 1] += 1
                dp = int(rng.integers(5, 60))
                nal = len(alts) + 1
                call = {"GT": gt, "DP": dp if rng.random() > 0.05 else None,
                        "GQ": int(rng.integers(0, 99)),
                        "AD": [int(x) for x in rng.integers(0, dp + 1, size=nal)],
                        "PL": [int(x) for x in
                               rng.integers(0, 300, size=nal * (nal + 1) // 2)]}
                calls.append({k: call[k] for k in fmt})
            if rng.random() < 0.9:
                info.insert(0, ("DP", int(rng.integers(10, 200))))
            if an and rng.random() < 0.85:
                info += [("AF", [round(c / an, 3) for c in ac]), ("AC", ac),
                         ("AN", an)]
            if rng.random() < 0.3:
                info.append(("DB", True))
            if rng.random() < 0.2:
                info.append(("HQ", [int(x) for x in rng.integers(0, 60, size=2)]))
            info.sort(key=lambda kv: [k for k, _n, _t in _INFO].index(kv[0]))
            u = rng.random()
            n_ids = 0 if u < 0.2 else 2 if u > 0.97 else 1
            ids = [f"rs{int(rng.integers(1, 10**8))}" for _ in range(n_ids)]
            u = rng.random()
            filters = (["PASS"] if u < 0.7 else None if u < 0.8
                       else ["q10"] if u < 0.9 else ["q10", "s50"])
            qual = None if rng.random() < 0.1 else round(float(rng.uniform(3, 999)), 1)
            out.append(_Variant(tid, s + 1, ids, r, alts, qual, filters, info,
                                fmt, calls))
    return out


def _fmt_value(k, v) -> str:
    if v is None:
        return "."
    if k == "GT":
        alleles, phased = v
        return ("|" if phased else "/").join(
            "." if a is None else str(a) for a in alleles)
    if isinstance(v, list):
        return ",".join(_num(x) for x in v)
    return _num(v)


def _num(x) -> str:
    return f"{x:g}" if isinstance(x, float) else str(x)


def _vcf_line(v: _Variant) -> str:
    info = ";".join(k if val is True else f"{k}={_fmt_value(k, val)}"
                    for k, val in v.info) or "."
    return "\t".join([
        CONTIGS[v.tid][0], str(v.pos), ";".join(v.ids) or ".", v.ref,
        ",".join(v.alts), "." if v.qual is None else _num(v.qual),
        "." if v.filters is None else ";".join(v.filters), info,
        ":".join(v.fmt),
        *(":".join(_fmt_value(k, c[k]) for k in v.fmt) for c in v.calls),
    ]) + "\n"


# BCF string dictionary: PASS, then FILTER/INFO/FORMAT ids in header order
_DICT = {k: i for i, k in enumerate(dict.fromkeys(
    [*_FILTERS, *(k for k, _n, _t in _INFO), *(k for k, _n, _t in _FORMAT)]))}
_INT_TYPES = ((1, "<b", -120, 127), (2, "<h", -32760, 32767),
              (3, "<i", -2**31 + 8, 2**31 - 1))
_INT_SENTINEL = {1: (0x80, 0x81), 2: (0x8000, 0x8001),
                 3: (0x80000000, 0x80000001)}


def _int_cells(cells: list[list | None], width: int) -> bytes:
    """Per-sample int vectors (None cell → MISSING, short → EOV-padded),
    in the narrowest BCF int type that holds every value."""
    vals = [x for c in cells if c for x in c if x is not None]
    t, fmt, _lo, _hi = next(it for it in _INT_TYPES
                            if all(it[2] <= x <= it[3] for x in vals))
    miss, eov = _INT_SENTINEL[t]
    size = struct.calcsize(fmt)
    out = bytearray(typed_meta(t, width))
    for c in cells:
        c = c if c else [None]
        for j in range(width):
            if j >= len(c):
                out += eov.to_bytes(size, "little")
            elif c[j] is None:
                out += miss.to_bytes(size, "little")
            else:
                out += struct.pack(fmt, c[j])
    return bytes(out)


def _bcf_record(v: _Variant) -> bytes:
    qual = (struct.pack("<I", 0x7F800001) if v.qual is None
            else struct.pack("<f", v.qual))
    shared = bytearray(struct.pack("<iii", v.tid, v.pos - 1, v.rlen) + qual)
    shared += struct.pack("<II", ((1 + len(v.alts)) << 16) | len(v.info),
                          (len(v.fmt) << 24) | len(v.calls))
    shared += typed_str(";".join(v.ids))
    for a in [v.ref, *v.alts]:
        shared += typed_str(a)
    shared += (b"\x00" if v.filters is None
               else _int_cells([[_DICT[f] for f in v.filters]],
                               len(v.filters)))
    for k, val in v.info:
        shared += typed_int(_DICT[k])
        if val is True:
            shared += b"\x00"
        elif k == "AF":
            shared += typed_meta(5, len(val)) + struct.pack(f"<{len(val)}f", *val)
        else:
            cell = val if isinstance(val, list) else [val]
            shared += _int_cells([cell], len(cell))
    indiv = bytearray()
    for k in v.fmt:
        indiv += typed_int(_DICT[k])
        if k == "GT":
            cells = [[0 if a is None else ((a + 1) << 1) | (int(ph) if j else 0)
                      for j, a in enumerate(al)] for al, ph in
                     (c["GT"] for c in v.calls)]
        else:
            cells = [c[k] if isinstance(c[k], list) or c[k] is None
                     else [c[k]] for c in v.calls]
        indiv += _int_cells(cells, max(len(c) if c else 1 for c in cells))
    return struct.pack("<II", len(shared), len(indiv)) + bytes(shared) + bytes(indiv)


def _write_variants(d: str, variants: list[_Variant], block: int) -> None:
    hdr = _vcf_header()
    lines = [_vcf_line(v) for v in variants]
    _write(f"{d}/sample.vcf", hdr + "".join(lines))
    tids = [v.tid for v in variants]
    begs = [v.pos - 1 for v in variants]
    ends = [v.pos - 1 + v.rlen for v in variants]
    refs = _indexed_text(f"{d}/sample.vcf.gz", hdr, lines, tids, begs, ends,
                         block)
    vcf_conf = _tabix_conf(2, (1, 2, 0))        # tabix's VCF preset
    _write(f"{d}/sample.vcf.gz.tbi", _tbi(refs, vcf_conf))
    _write(f"{d}/sample.vcf.gz.csi", _csi(refs, vcf_conf))
    text = hdr.encode() + b"\x00"
    recs = [_bcf_record(v) for v in variants]
    stream = _Bgzf(b"BCF\x02\x02" + struct.pack("<I", len(text)) + text,
                   b"".join(recs), block)
    _write(f"{d}/sample.bcf", stream.data())
    _write(f"{d}/sample.bcf.csi",
           _csi(_indexes(tids, begs, ends, *stream.offsets(recs))))


# -------------------------------------------------------------- features


def _write_bed(d: str, rng, block: int) -> None:
    """FIXTURES.md T3: BED9+2 (narrowPeak-like signalValue, pValue)."""
    lines, tids, begs, ends = [], [], [], []
    n = 0
    for tid, (chrom, _ln) in enumerate(CONTIGS):
        for s in _tiling(rng, 1500):
            n += 1
            e = s + int(rng.integers(100, 1500))
            ts = s + int(rng.integers(0, (e - s) // 3))
            te = e - int(rng.integers(0, (e - s) // 3))
            rgb = ("0" if rng.random() < 0.2 else
                   ",".join(str(int(x)) for x in rng.integers(0, 256, size=3)))
            lines.append("\t".join([
                chrom, str(s), str(e), f"peak{n}",
                "." if rng.random() < 0.1 else str(int(rng.integers(0, 1001))),
                "+-."[int(rng.integers(0, 3))], str(ts), str(te), rgb,
                f"{rng.uniform(0, 500):.4f}",
                "-1" if rng.random() < 0.1 else f"{rng.uniform(0, 300):.4f}",
            ]) + "\n")
            tids.append(tid)
            begs.append(s)
            ends.append(e)
    hdr = "#chrom\tstart\tend\tname\tscore\tstrand\tthickStart\tthickEnd" \
          "\titemRgb\tsignalValue\tpValue\n"
    _write(f"{d}/sample.bed", hdr + "".join(lines))
    refs = _indexed_text(f"{d}/sample.bed.gz", hdr, lines, tids, begs, ends,
                         block)
    _write(f"{d}/sample.bed.gz.tbi", _tbi(refs, _tabix_conf(0x10000, (1, 2, 3))))


def _gene_models(rng, style: str) -> list[tuple]:
    """FIXTURES.md T4 hierarchy, genes ⊃ transcripts ⊃ exons (⊃ CDS in
    the GENCODE style): (tid, source, type, start, end, score, strand,
    frame, attrs, id, parent id), 1-based closed, sorted by start."""
    def score() -> str:           # mostly null (FIXTURES.md T4)
        return f"{rng.uniform(0, 1000):.1f}" if rng.random() < 0.05 else "."

    recs = []
    g = 0
    for tid in range(len(CONTIGS)):
        cur = int(rng.integers(1, 60))
        while cur + 3000 < SPAN:
            g += 1
            exons = []
            for _ in range(int(rng.integers(2, 9))):
                ln = int(rng.integers(100, 181))
                exons.append((cur, cur + ln - 1))
                cur += ln + int(rng.integers(20, 71))
            cur = exons[-1][1] + 1 + int(rng.integers(0, 61))
            strand = "+-"[int(rng.integers(0, 2))]
            coding = style == "gencode" and rng.random() < 0.6
            gid, txid = f"ENSG{g:011d}", f"ENST{g:011d}"
            gname = f"GENE{g}"
            biotype = "protein_coding" if coding else "lncRNA"
            src = "HAVANA" if rng.random() < 0.7 else "ENSEMBL"
            tags = ["basic"] + (["CCDS"] if coding and rng.random() < 0.6 else []) \
                + (["mRNA_start_NF"] if rng.random() < 0.05 else [])
            gs, ge = exons[0][0], exons[-1][1]
            if style == "gencode":
                gattr = [("gene_id", gid), ("gene_type", biotype),
                         ("gene_name", gname), ("level", 2)]
                tattr = gattr[:1] + [("transcript_id", txid)] + gattr[1:] \
                    + [("transcript_name", f"{gname}-201")] \
                    + [("tag", t) for t in tags]
            else:
                gattr = [("gene_id", gid), ("gene_version", 1),
                         ("gene_name", gname), ("gene_source", src.lower()),
                         ("gene_biotype", biotype)]
                tattr = gattr[:1] + [("transcript_id", txid)] + gattr[1:]
            recs.append((tid, src, "gene", gs, ge, score(), strand, ".", gattr,
                         gid, None))
            recs.append((tid, src, "transcript", gs, ge, score(), strand, ".",
                         tattr, txid, gid))
            done = 0
            for k, (es, ee) in enumerate(exons, 1):
                eattr = tattr + [("exon_number", k),
                                 ("exon_id", f"ENSE{g:09d}{k:02d}")]
                recs.append((tid, src, "exon", es, ee, score(), strand, ".",
                             eattr, f"exon-{txid}-{k}", txid))
                if coding:
                    cs = es + (int(rng.integers(10, 60)) if k == 1 else 0)
                    ce = ee - (int(rng.integers(10, 60)) if k == len(exons) else 0)
                    recs.append((tid, src, "CDS", cs, ce, ".", strand,
                                 str((3 - done % 3) % 3), eattr[:-1],
                                 f"cds-{txid}", txid))
                    done += ce - cs + 1
    return recs


def _gtf_line(r) -> str:
    tid, src, typ, s, e, score, strand, frame, attrs, _id, _par = r
    at = " ".join(f'{k} {v};' if isinstance(v, int) else f'{k} "{v}";'
                  for k, v in attrs)
    return "\t".join([CONTIGS[tid][0], src, typ, str(s), str(e), score,
                      strand, frame, at]) + "\n"


def _gff_line(r) -> str:
    tid, src, typ, s, e, score, strand, frame, attrs, rid, parent = r
    kv: dict[str, list[str]] = {}
    for k, v in attrs:
        kv.setdefault(k, []).append(str(v))
    lead = [("ID", [rid])] + ([("Parent", [parent])] if parent else [])
    at = ";".join(f"{k}={','.join(vs)}" for k, vs in lead + list(kv.items()))
    gtype = {"transcript": "mRNA"}.get(typ, typ)
    return "\t".join([CONTIGS[tid][0], src, gtype, str(s), str(e), score,
                      strand, frame, at]) + "\n"


def _write_gxf(d: str, rng) -> None:
    for prefix, style in (("sample", "gencode"), ("example", "ensembl")):
        recs = _gene_models(rng, style)
        gtf = [_gtf_line(r) for r in recs]
        _write(f"{d}/{prefix}.gtf",
               "#!genome-build synthetic\n" + "".join(gtf))
        _write(f"{d}/{prefix}.gff", "##gff-version 3\n" + "".join(
            f"##sequence-region {c} 1 {ln}\n" for c, ln in CONTIGS)
            + "".join(_gff_line(r) for r in recs))
        if prefix == "sample":
            # malformed twin: a row cut short after its fifth column
            bad = gtf[:30] + ["\t".join(gtf[30].split("\t")[:5]) + "\n"] + gtf[31:60]
            _write(f"{d}/malformed.gtf", "".join(bad))


def _write_sequences(d: str, ref: dict[str, str]) -> None:
    """FIXTURES.md T7: one record per contig (its first SPAN bases), 60
    bases a line, with .fai; its BGZF twin with .gzi."""
    parts, fai, off = [], [], 0
    for name, ln in CONTIGS:
        head = f">{name} first {SPAN} bases of {name} (LN:{ln})\n"
        seq = ref[name]
        body = "".join(seq[i:i + 60] + "\n" for i in range(0, len(seq), 60))
        fai.append(f"{name}\t{len(seq)}\t{off + len(head)}\t60\t61\n")
        parts.append(head + body)
        off += len(head) + len(body)
    text = "".join(parts).encode()
    _write(f"{d}/sample.fasta", text)
    _write(f"{d}/sample.fasta.fai", "".join(fai))
    write_bgzf(f"{d}/sample.fasta.gz", text, _BLOCK)


def write_corpus(out_dir: str, block: int = _BLOCK) -> None:
    """Write the FIXTURES.md corpus into ``out_dir``. ``block`` is the
    BGZF payload per block of the indexed BAM, BCF, VCF.gz and BED.gz; a
    small one makes records and lines cross block boundaries often."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    ref = _reference(rng)
    _write_sequences(out_dir, ref)
    _write_alignments(out_dir, _alignments(rng, ref), block)
    _write_variants(out_dir, _variants(rng, ref), block)
    _write_bed(out_dir, rng, block)
    _write_gxf(out_dir, rng)


if __name__ == "__main__":
    write_corpus(sys.argv[1])
