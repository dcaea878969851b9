"""BGZF block-compressed I/O, BAI/TBI/CSI binning indexes, and the one
indexed-BGZF read path that the BAM, BCF and tabix text readers share.

Implemented from the public SAM/BAM/tabix specifications
(https://samtools.github.io/hts-specs/SAMv1.pdf §4). Parity targets:

- virtual positions ``(coffset << 16) | uoffset``;
- the planner: ``open_index`` finds a file's .bai/.tbi/.csi, and
  ``plan_ranges`` turns it into partition ranges — pooled, coalesced
  ``query_chunks`` for regions, ``partition_from_index`` cuts (linear-index
  offsets pruned to ~chunksize compressed bytes) for a full scan; the twin
  of the reference's shuffle-less planner (`oxbow/src/util/index.rs:119-178`,
  SURVEY D1) and its BAI bin query (`alignment/scanner/bam.rs:186-199`);
- the framer: ``BgzfReader.blocks`` inflates a partition's blocks from
  ``vstart`` and marks which bytes lie before ``vend``, and
  ``frame_records`` cuts length-prefixed records out of them in batches;
  the twin of the reference's record-aligned ``BgzfChunkReader``
  (`oxbow/src/util/query.rs:46-114`).
"""

from __future__ import annotations

import gzip
import struct
import zlib
from dataclasses import dataclass

import numpy as np

from oxbow_spark.sources import fsio

# A framed batch closes at this many bytes as well as at ``batch_size``
# records: BAM seq expands ~2x from packed nibbles, so 256 MiB of records
# keeps every utf8 column well inside the int32 Arrow offset range (2 GiB)
# even for ultra-long reads.
MAX_BATCH_BYTES = 256 * 1024 * 1024


class BgzfReader:
    """Seekable reader over a BGZF file using virtual positions.

    Each BGZF block is an independent gzip member whose compressed size is
    stored in the 'BC' extra subfield. A virtual position addresses
    (block compressed offset, offset within decompressed block).
    """

    def __init__(self, path: str):
        self.f = fsio.open_binary(path)
        self._block_coffset = -1
        self._block_data = b""
        self._next_coffset = 0
        self._uoffset = 0

    def close(self):
        self.f.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _load_block(self, coffset: int) -> None:
        """Read + inflate the BGZF block starting at coffset."""
        self.f.seek(coffset)
        header = self.f.read(18)
        if len(header) < 18:
            self._block_coffset = coffset
            self._block_data = b""
            self._next_coffset = coffset
            return
        if header[:4] != b"\x1f\x8b\x08\x04":
            raise ValueError(f"not a BGZF block at offset {coffset}")
        xlen = struct.unpack_from("<H", header, 10)[0]
        extra = header[12:18] + self.f.read(xlen - 6) if xlen > 6 else header[12:12 + xlen]
        # find BC subfield
        bsize = None
        i = 0
        while i + 4 <= len(extra):
            si1, si2, slen = extra[i], extra[i + 1], struct.unpack_from("<H", extra, i + 2)[0]
            if si1 == 0x42 and si2 == 0x43 and slen == 2:
                bsize = struct.unpack_from("<H", extra, i + 4)[0] + 1
                break
            i += 4 + slen
        if bsize is None:
            raise ValueError(f"BGZF block at {coffset} lacks BC subfield")
        self.f.seek(coffset + 12 + xlen)
        cdata = self.f.read(bsize - 12 - xlen - 8)
        self.f.read(8)  # crc32 + isize
        self._block_data = zlib.decompress(cdata, -15) if cdata else b""
        self._block_coffset = coffset
        self._next_coffset = coffset + bsize

    def seek_virtual(self, vpos: int) -> None:
        coffset, uoffset = vpos >> 16, vpos & 0xFFFF
        if coffset != self._block_coffset:
            self._load_block(coffset)
        self._uoffset = uoffset

    def tell_virtual(self) -> int:
        if self._uoffset >= len(self._block_data) and self._block_data:
            # normalized position: start of the next block
            return self._next_coffset << 16
        return (self._block_coffset << 16) | self._uoffset

    def blocks(self, vstart: int, vend: int | None = None):
        """Inflated blocks from ``vstart`` on, as ``(data, owned)``; the
        first block's data starts at vstart's uoffset. ``owned`` is None
        while the whole block lies before ``vend``. The block that holds
        ``vend`` (or the first one past it) gives how many of its bytes lie
        before it, and every later block 0: blocks go on past ``vend`` so
        that a record starting before it can be read to its end. Ends at
        the end of the file."""
        self.seek_virtual(vstart)
        skip, past = self._uoffset, False
        while self._next_coffset > self._block_coffset:  # not at EOF
            data, owned = self._block_data, None
            if past:
                owned = 0
            elif vend is not None and self._block_coffset >= vend >> 16:
                past, owned = True, 0
                if self._block_coffset == vend >> 16:
                    owned = max(0, min(vend & 0xFFFF, len(data)) - skip)
            yield (data[skip:] if skip else data), owned
            skip = 0
            self._load_block(self._next_coffset)

    def read(self, n: int) -> bytes:
        out = []
        while n > 0:
            if self._block_coffset < 0:
                self._load_block(0)
            avail = len(self._block_data) - self._uoffset
            if avail <= 0:
                nxt = self._next_coffset
                self._load_block(nxt)
                self._uoffset = 0
                if not self._block_data:
                    break  # EOF
                continue
            take = min(avail, n)
            out.append(self._block_data[self._uoffset:self._uoffset + take])
            self._uoffset += take
            n -= take
        return b"".join(out)


def is_bgzf(path: str) -> bool:
    with fsio.open_binary(path) as f:
        h = f.read(18)
    if len(h) < 18 or h[:4] != b"\x1f\x8b\x08\x04":
        return False
    xlen = struct.unpack_from("<H", h, 10)[0]
    with fsio.open_binary(path) as f:
        f.seek(12)
        extra = f.read(xlen)
    i = 0
    while i + 4 <= len(extra):
        if extra[i] == 0x42 and extra[i + 1] == 0x43:
            return True
        i += 4 + struct.unpack_from("<H", extra, i + 2)[0]
    return False


# --------------------------------------------------------------------- TBI

@dataclass
class TabixIndex:
    """Tabix (.tbi) index: BAI-style binning over bgzipped text files
    (spec: https://samtools.github.io/hts-specs/tabix.pdf). ``names``
    maps sequence names to the per-ref bin/interval structures."""

    refs: list["RefIndex"]
    names: list[str]
    col_seq: int
    col_beg: int
    col_end: int
    meta_char: str
    zero_based: bool  # format flag bit 0x10000 (BED-style coordinates)

    @classmethod
    def read(cls, path: str) -> "TabixIndex":
        with gzip.GzipFile(fileobj=fsio.open_binary(path)) as f:
            data = f.read()
        if data[:4] != b"TBI\x01":
            raise ValueError(f"{path} is not a tabix index")
        n_ref, fmt, col_seq, col_beg, col_end, meta, _skip, l_nm = struct.unpack_from(
            "<8i", data, 4
        )
        off = 36
        names = [s.decode() for s in data[off:off + l_nm].split(b"\x00") if s]
        off += l_nm
        refs = []
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, off)
            off += 4
            bins: dict[int, list[tuple[int, int]]] = {}
            for _ in range(n_bin):
                bin_id, n_chunk = struct.unpack_from("<Ii", data, off)
                off += 8
                chunks = []
                for _ in range(n_chunk):
                    beg, end = struct.unpack_from("<QQ", data, off)
                    off += 16
                    chunks.append((beg, end))
                bins[bin_id] = chunks
            (n_intv,) = struct.unpack_from("<i", data, off)
            off += 4
            ioffs = list(struct.unpack_from(f"<{n_intv}Q", data, off))
            off += 8 * n_intv
            refs.append(RefIndex(bins, ioffs))
        return cls(
            refs, names, col_seq, col_beg, col_end, chr(meta),
            bool(fmt & 0x10000),
        )

    def as_bai(self) -> "BaiIndex":
        return BaiIndex(self.refs)


# --------------------------------------------------------------------- BAI

@dataclass
class RefIndex:
    bins: dict[int, list[tuple[int, int]]]  # bin → [(chunk_beg, chunk_end)]
    intervals: list[int]                    # 16kb linear index ioffsets


@dataclass
class BaiIndex:
    refs: list[RefIndex]
    n_no_coor: int | None = None

    @classmethod
    def read(cls, path: str) -> "BaiIndex":
        raw = fsio.open_binary(path)
        with (gzip.GzipFile(fileobj=raw) if path.endswith(".gz") else raw) as f:
            data = f.read()
        if data[:4] != b"BAI\x01":
            raise ValueError(f"{path} is not a BAI index")
        off = 4
        (n_ref,) = struct.unpack_from("<i", data, off)
        off += 4
        refs = []
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, off)
            off += 4
            bins: dict[int, list[tuple[int, int]]] = {}
            for _ in range(n_bin):
                bin_id, n_chunk = struct.unpack_from("<Ii", data, off)
                off += 8
                chunks = []
                for _ in range(n_chunk):
                    beg, end = struct.unpack_from("<QQ", data, off)
                    off += 16
                    chunks.append((beg, end))
                bins[bin_id] = chunks
            (n_intv,) = struct.unpack_from("<i", data, off)
            off += 4
            ioffs = list(struct.unpack_from(f"<{n_intv}Q", data, off))
            off += 8 * n_intv
            refs.append(RefIndex(bins, ioffs))
        n_no_coor = None
        if off + 8 <= len(data):
            (n_no_coor,) = struct.unpack_from("<Q", data, off)
        return cls(refs, n_no_coor)


def reg2bins(beg: int, end: int, min_shift: int = 14, depth: int = 5) -> list[int]:
    """Bins overlapping [beg, end): the CSI generalized binning scheme
    (CSIv1 spec reg2bins pseudocode); BAI/TBI 5-level binning (SAM spec
    §5.3) is the min_shift=14, depth=5 instance."""
    bins = []
    end -= 1
    s = min_shift + depth * 3
    t = 0
    for level in range(depth + 1):
        bins.extend(range(t + (beg >> s), t + (end >> s) + 1))
        t += 1 << (level * 3)
        s -= 3
    return bins


# --------------------------------------------------------------------- CSI

@dataclass
class CsiRef:
    bins: dict[int, list[tuple[int, int]]]  # bin → [(chunk_beg, chunk_end)]
    loffsets: dict[int, int]                # bin → vpos of first overlapping record
    intervals: list[int]                    # sorted loffsets: record-aligned cuts
    meta: tuple[int, int] | None = None     # (n_mapped, n_unmapped) pseudo-bin

    @classmethod
    def build(cls, bins, loffsets, meta=None):
        return cls(bins, loffsets, sorted(set(loffsets.values())), meta)


@dataclass
class CsiIndex:
    """CSI (.csi) index (CSIv1 spec): generalized-depth binning with
    per-bin loffset virtual-position lower bounds in place of BAI's 16 kb
    linear index. Reference parity: `oxbow/src/util/index.rs` (noodles
    csi); fixtures `sample.bcf.csi`, `sample.vcf.gz.csi`."""

    refs: list[CsiRef]
    min_shift: int
    depth: int
    names: list[str] | None  # present when the aux blob is tabix-format
    n_no_coor: int | None = None

    @classmethod
    def read(cls, path: str) -> "CsiIndex":
        with gzip.GzipFile(fileobj=fsio.open_binary(path)) as f:
            data = f.read()
        if data[:4] != b"CSI\x01":
            raise ValueError(f"{path} is not a CSI index")
        min_shift, depth, l_aux = struct.unpack_from("<3i", data, 4)
        off = 16
        aux = data[off:off + l_aux]
        off += l_aux
        names = None
        if l_aux >= 28:  # tabix-style aux: format/cols/meta/skip + names
            (l_nm,) = struct.unpack_from("<i", aux, 24)
            names = [s.decode() for s in aux[28:28 + l_nm].split(b"\x00") if s]
        # bins >= this are metadata pseudo-bins, not interval bins
        bin_limit = ((1 << (3 * (depth + 1))) - 1) // 7
        (n_ref,) = struct.unpack_from("<i", data, off)
        off += 4
        refs = []
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, off)
            off += 4
            bins: dict[int, list[tuple[int, int]]] = {}
            loffsets: dict[int, int] = {}
            meta = None
            for _ in range(n_bin):
                bin_id, loffset, n_chunk = struct.unpack_from("<IQi", data, off)
                off += 16
                chunks = []
                for _ in range(n_chunk):
                    beg, end = struct.unpack_from("<QQ", data, off)
                    off += 16
                    chunks.append((beg, end))
                if bin_id < bin_limit:
                    bins[bin_id] = chunks
                    loffsets[bin_id] = loffset
                elif len(chunks) == 2:
                    # metadata pseudo-bin: chunk 2 = (n_mapped, n_unmapped)
                    meta = chunks[1]
            refs.append(CsiRef.build(bins, loffsets, meta))
        n_no_coor = None
        if off + 8 <= len(data):
            (n_no_coor,) = struct.unpack_from("<Q", data, off)
        return cls(refs, min_shift, depth, names, n_no_coor)


def index_stats(index: "BaiIndex | CsiIndex") -> list[tuple[int, int] | None]:
    """Per-reference (n_mapped, n_unmapped) record counts from the
    index's metadata pseudo-bins (samtools `idxstats` source data —
    BAI bin 37450 / CSI META_BIN, chunk 2), without touching record
    bytes. ``None`` for references whose index carries no pseudo-bin
    (older/minimal indexers)."""
    out: list[tuple[int, int] | None] = []
    for ref in index.refs:
        meta = getattr(ref, "meta", None)
        if meta is None:
            chunks = ref.bins.get(37450)
            meta = tuple(chunks[1]) if chunks and len(chunks) == 2 else None
        out.append(tuple(meta) if meta is not None else None)
    return out


def _min_vpos(ref, beg: int, min_shift: int, depth: int) -> int:
    """Virtual-position lower bound for records overlapping positions
    >= beg: BAI linear-index window, or the CSI loffset of the deepest
    indexed bin containing beg (walking up levels when absent)."""
    loff = getattr(ref, "loffsets", None)
    if loff is not None:
        s = min_shift
        for level in range(depth, -1, -1):
            t = ((1 << (3 * level)) - 1) // 7
            b = t + (beg >> s)
            if b in loff:
                return loff[b]
            s += 3
        return 0
    if ref.intervals:
        win = min(beg >> min_shift, len(ref.intervals) - 1)
        return ref.intervals[win]
    return 0


def query_chunks(
    index: "BaiIndex | CsiIndex", ref_id: int, beg: int, end: int
) -> list[tuple[int, int]]:
    """Merged (vpos_beg, vpos_end) chunks possibly containing records
    overlapping [beg, end) on ref_id — the index-pushdown seek list.
    Works for BAI/TBI (fixed 14/5 binning + linear index) and CSI
    (declared binning + per-bin loffsets)."""
    if ref_id < 0 or ref_id >= len(index.refs):
        return []
    ref = index.refs[ref_id]
    min_shift = getattr(index, "min_shift", 14)
    depth = getattr(index, "depth", 5)
    min_ioff = _min_vpos(ref, beg, min_shift, depth)
    chunks = []
    for b in reg2bins(beg, end, min_shift, depth):
        for cb, ce in ref.bins.get(b, ()):
            if ce > min_ioff:
                chunks.append((max(cb, min_ioff), ce))
    return coalesce_chunks(chunks)


def coalesce_chunks(chunks: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Merge overlapping/adjacent half-open (vstart, vend) ranges so each
    record offset lands in exactly one range — required when pooling index
    chunks across multiple query regions (nearby regions often share a
    16 kb linear-index chunk, which would otherwise double-read records)."""
    merged: list[tuple[int, int]] = []
    for cb, ce in sorted(chunks):
        if merged and cb <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], ce))
        else:
            merged.append((cb, ce))
    return merged


def partition_from_index(
    index: BaiIndex, chunksize: int, start_vpos: int, file_size: int
) -> list[tuple[int, int]]:
    """Split a coordinate-sorted BGZF file into ~chunksize-compressed-byte
    virtual-position ranges using linear-index offsets as record-aligned
    cut points (reference `oxbow/src/util/index.rs:119-178`).

    Returns half-open vpos ranges covering [start_vpos, file_size<<16).
    """
    cuts: set[int] = set()
    for ref in index.refs:
        cuts.update(v for v in ref.intervals if v)
    kept: list[int] = []
    last_coffset = start_vpos >> 16
    for v in sorted(cuts):
        if v <= start_vpos:
            continue
        if (v >> 16) - last_coffset >= chunksize:
            kept.append(v)
            last_coffset = v >> 16
    bounds = [start_vpos] + kept + [file_size << 16]
    return [
        (bounds[i], bounds[i + 1])
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]


# ------------------------------------------------- planner and framer


def open_index(explicit: str | None, sidecars) -> tuple:
    """``(index, names)`` of a data file: its ``index`` option when given
    (reference parity), else the first of ``sidecars`` that exists, read
    by extension (.tbi, .csi, else BAI). ``names`` are the tabix sequence
    names: None for BAI and for a CSI without tabix aux data. ``(None,
    None)`` when there is no index."""
    path = explicit or next((p for p in sidecars if fsio.exists(p)), None)
    if path is None:
        return None, None
    if path.endswith(".tbi"):
        tbi = TabixIndex.read(path)
        return tbi.as_bai(), tbi.names
    if path.endswith(".csi"):
        csi = CsiIndex.read(path)
        return csi, csi.names
    return BaiIndex.read(path), None


def plan_ranges(index, names: list[str], regions, chunksize: int,
                start_vpos: int, file_size: int) -> list[tuple[int, int]]:
    """Half-open virtual-position ranges that partition an indexed BGZF
    file. With ``regions`` (pre-merged, `coords.merge_regions`): the index
    chunks of every region on a sequence in ``names`` pooled and coalesced,
    so a record that overlaps two regions, or sits in a chunk that two
    regions share, is read once; the unmapped ``*`` gets none. Without: the
    file from ``start_vpos`` cut at linear-index offsets about
    ``chunksize`` compressed bytes apart."""
    if not regions:
        return partition_from_index(index, chunksize, start_vpos, file_size)
    max_pos = 1 << (getattr(index, "min_shift", 14) + getattr(index, "depth", 5) * 3)
    chunks: list[tuple[int, int]] = []
    for reg in regions:
        if reg.is_unmapped or reg.name not in names:
            continue
        end = reg.end if reg.end is not None else max_pos
        chunks.extend(query_chunks(index, names.index(reg.name), reg.start, end))
    return coalesce_chunks(chunks)


def frame_records(blocks, head: str, batch_size: int, limit: int = -1):
    """Length-prefixed records cut out of ``(data, owned)`` blocks
    (`BgzfReader.blocks`), in batches ``(buf, body_starts, head_fields)``.

    A record is a ``head`` struct whose fields sum to its body length
    (``<i`` for BAM, ``<II`` for BCF) and is framed when it starts before
    the range's end. ``body_starts`` index ``buf``; ``head_fields`` is an
    (n, fields) int64 array. A batch closes at ``batch_size`` records or
    at ``MAX_BATCH_BYTES``; ``limit`` >= 0 stops after that many records.
    A record cut short by the end of the file is dropped; a negative
    length raises ValueError."""
    if limit == 0:
        return
    rec = struct.Struct(head)
    unpack, hs = rec.unpack_from, rec.size
    nf = len(rec.unpack(bytes(hs)))
    max_bytes = MAX_BATCH_BYTES
    buf = bytearray()
    end = None  # offset in buf of the range's end, once a block shows it
    pos = framed = 0
    starts: list[int] = []
    fields: list[int] = []
    cap = batch_size if limit < 0 else min(batch_size, limit)

    def batch():
        return (bytes(memoryview(buf)[:pos]), np.array(starts, dtype=np.int64),
                np.array(fields, dtype=np.int64).reshape(-1, nf))

    for data, owned in blocks:
        if end is None and owned is not None:
            end = len(buf) + owned
        buf += data
        n = len(buf)
        stop = n if end is None else min(end, n)  # a record starts before it
        while pos < stop and pos + hs <= n:
            f = unpack(buf, pos)
            nxt = pos + hs + sum(f)
            if nxt < pos + hs:
                raise ValueError(f"negative record length {f} in a BGZF record stream")
            if nxt > n:
                break
            starts.append(pos + hs)
            fields.extend(f)
            pos = nxt
            if len(starts) >= cap or pos >= max_bytes:
                yield batch()
                framed += len(starts)
                if 0 <= limit <= framed:
                    return
                if limit >= 0:
                    cap = min(batch_size, limit - framed)
                del buf[:pos]
                n, stop = n - pos, stop - pos
                if end is not None:
                    end -= pos
                pos, starts, fields = 0, [], []
        if end is not None and pos >= end:
            break
    if starts:
        yield batch()
