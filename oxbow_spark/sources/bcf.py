"""BCF DataSource: ``spark.read.format("bcf")``.

Parity: reference BCF scanner (`oxbow/src/variant/scanner/bcf.rs`, SURVEY
S5) — same Model/schema as VCF (the source subclasses the VCF DataSource
for header parsing, option handling and schema assembly) with the BCF2.2
binary record codec (public spec: SAMv1/VCFv4.x specification §6).

BCF specifics handled here:
- typed values (int8/16/32, float, char) with 15-length extension,
  MISSING and END-OF-VECTOR sentinels;
- the string dictionary (FILTER/INFO/FORMAT ids in order of appearance,
  IDX= override, implicit PASS at 0) and the contig dictionary;
- GT encoding ``(allele+1)<<1 | phased`` per sample;
- String INFO/FORMAT values with list Numbers are comma-joined in BCF
  and are split back to lists to match the VCF text semantics.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema

from oxbow_spark.models.vcf_header import VcfHeader
from oxbow_spark.sources.base import DEFAULT_BATCH_SIZE
from oxbow_spark.sources.bgzf import BgzfReader
from oxbow_spark.sources.vcf import VcfCodec, VcfDataSource

from oxbow_spark.sources import fsio

_MISSING = {1: -128, 2: -32768, 3: -2147483648}
_EOV = {1: -127, 2: -32767, 3: -2147483647}
_FMT = {1: "<b", 2: "<h", 3: "<i", 5: "<f"}
_MISSING_FLOAT_BITS = 0x7F800001
_EOV_FLOAT_BITS = 0x7F800002


class _Buf:
    __slots__ = ("b", "o")

    def __init__(self, b: bytes, o: int = 0):
        self.b = b
        self.o = o

    def u8(self) -> int:
        v = self.b[self.o]
        self.o += 1
        return v

    def take(self, fmt: str, n: int):
        size = struct.calcsize(fmt)
        vals = struct.unpack_from(f"<{n}{fmt[-1]}", self.b, self.o)
        self.o += size * n
        return vals


def _typed_meta(buf: _Buf) -> tuple[int, int]:
    """Read a type descriptor byte (+ extended length) → (type, length)."""
    d = buf.u8()
    t, ln = d & 0xF, d >> 4
    if ln == 15:
        t2, n2 = _typed_meta(buf)
        ln = _typed_values_raw(buf, t2, n2)[0]
    return t, ln


def _typed_values_raw(buf: _Buf, t: int, n: int):
    if t == 0 or n == 0:
        return []
    if t == 7:  # char vector → str
        s = buf.b[buf.o:buf.o + n]
        buf.o += n
        return [s.decode("ascii", "replace")]
    return list(buf.take(_FMT[t], n))


def _clean_ints(vals: list[int], t: int) -> list[int | None]:
    out = []
    for v in vals:
        if v == _EOV[t]:
            break
        out.append(None if v == _MISSING[t] else v)
    return out


def _clean_floats_bits(bits, vals) -> list[float | None]:
    """Float vector cleanup from the RAW wire bits. The MISSING/EOV
    sentinels (0x7F800001/2) are signaling NaNs: unpacking them as float
    and re-packing quiets them to 0x7FC0...., so sentinel checks must run
    on bits read straight from the buffer, never on round-tripped
    floats."""
    out = []
    for bt, v in zip(bits, vals):
        if bt == _EOV_FLOAT_BITS:
            break
        out.append(None if bt == _MISSING_FLOAT_BITS else v)
    return out


def read_typed(buf: _Buf):
    """One typed value → (kind, values) where kind ∈ {'int','float','str'}."""
    t, n = _typed_meta(buf)
    o = buf.o
    raw = _typed_values_raw(buf, t, n)
    if t == 7:
        s = raw[0] if raw else ""
        return "str", s
    if t == 5:
        bits = struct.unpack_from(f"<{n}I", buf.b, o)
        return "float", _clean_floats_bits(bits, raw)
    if t in _MISSING:
        return "int", _clean_ints(raw, t)
    return "int", []


# ---------------------------------------------------------------------------
# Vectorized batch decode (the BAM `decode_record_batch` treatment applied
# to BCF, cf. `bam.py:238-399`; reference throughput contract:
# `oxbow/src/variant/scanner/bcf.rs`). The 24-byte fixed prefix of every
# record in a batch is gathered into one numpy structured view; the
# variable typed-value chains (ID/alleles/FILTER/INFO) are walked with a
# minimal inline parser that SKIPS values that the projection drops (an
# unprojected INFO block is never parsed — scan-time projection, SURVEY
# P2); FORMAT slabs (n_sample × length, fixed-width) decode via a single
# np.frombuffer per field once they are wide enough to pay for it.
# ---------------------------------------------------------------------------

_PREFIX_DTYPE = np.dtype([
    ("chrom", "<i4"), ("pos", "<i4"), ("rlen", "<i4"), ("qual", "<u4"),
    ("nai", "<u4"), ("nfs", "<u4"),
])
_TSIZE = {0: 0, 1: 1, 2: 2, 3: 4, 5: 4, 7: 1}
_NP_DT = {1: "<i1", 2: "<i2", 3: "<i4", 5: "<f4"}


def _tv_head(b, o: int) -> tuple[int, int, int]:
    """Typed-value descriptor at offset ``o`` → (type, length, new_offset)."""
    d = b[o]
    o += 1
    t, ln = d & 0xF, d >> 4
    if ln == 15:
        d2 = b[o]
        o += 1
        t2 = d2 & 0xF
        if t2 == 1:
            ln = b[o] - 256 if b[o] > 127 else b[o]
            o += 1
        elif t2 == 2:
            ln = struct.unpack_from("<h", b, o)[0]
            o += 2
        else:
            ln = struct.unpack_from("<i", b, o)[0]
            o += 4
    return t, ln, o


def _tv_int_scalar(b, o: int) -> tuple[int, int]:
    """Typed int scalar (dictionary keys) → (value, new_offset)."""
    t, ln, o = _tv_head(b, o)
    if ln == 0 or t not in _FMT:
        return 0, o + _TSIZE.get(t, 0) * ln
    v = struct.unpack_from(_FMT[t], b, o)[0]
    return v, o + _TSIZE[t] * ln


def _tv_value(b, o: int, t: int, ln: int):
    """(kind, vals) with the same cleaning semantics as `read_typed`."""
    if t == 7:
        return "str", b[o:o + ln].decode("ascii", "replace") if ln else ""
    if t == 5:
        bits = struct.unpack_from(f"<{ln}I", b, o)
        return "float", _clean_floats_bits(bits, struct.unpack_from(f"<{ln}f", b, o))
    if t in _MISSING:
        return "int", _clean_ints(list(struct.unpack_from(f"<{ln}{_FMT[t][-1]}", b, o)), t)
    return "int", []


def _decode_indiv_record(ib: bytes, o: int, nf: int, ns: int,
                         strings: list[str], want: set) -> dict[str, list]:
    """One record's FORMAT block (at offset ``o`` of ``ib``) →
    {field: [per-sample (kind, vals)]}. Unwanted fields are skipped by
    width without decoding; wide slabs (ns·ln ≥ 64 fixed-width cells)
    decode via one frombuffer + vectorized sentinel cleanup instead of
    per-sample struct calls."""
    per_field: dict[str, list] = {}
    for _ in range(nf):
        key, o = _tv_int_scalar(ib, o)
        name = strings[key] if key < len(strings) else None
        t, ln, o = _tv_head(ib, o)
        width = _TSIZE[t] * ln
        if not name or name not in want:
            o += width * ns
            continue
        if t == 7:
            per_field[name] = [
                ("str", ib[o + s * ln:o + (s + 1) * ln].decode("ascii", "replace"))
                for s in range(ns)
            ]
            o += width * ns
            continue
        if t in _NP_DT and ns * ln >= 64:
            m = np.frombuffer(ib, _NP_DT[t], ns * ln, o).reshape(ns, ln)
            o += width * ns
            if t == 5:
                bits = m.view("<u4")
                eov = bits == _EOV_FLOAT_BITS
                miss = bits == _MISSING_FLOAT_BITS
                kind = "float"
                # sentinel cells are signaling NaNs: casting them warns
                # (they get masked to None below anyway)
                with np.errstate(invalid="ignore"):
                    vals = m.astype(object)
            else:
                eov = m == _EOV[t]
                miss = m == _MISSING[t]
                kind = "int"
                vals = m.astype(object)
            lens = np.where(eov.any(axis=1), eov.argmax(axis=1), ln)
            vals[miss] = None
            per_field[name] = [
                (kind, list(vals[s, :lens[s]])) for s in range(ns)
            ]
            continue
        cells = []
        for _s in range(ns):
            cells.append(_tv_value(ib, o, t, ln))
            o += width
        per_field[name] = cells
    return per_field


_TSZ_ARR = np.zeros(16, dtype=np.int64)
for _t, _s in _TSIZE.items():
    _TSZ_ARR[_t] = _s


def decode_bcf_batch(
    big: bytes,
    starts: np.ndarray,
    s_lens: np.ndarray,
    codec: VcfCodec,
    strings: list[str],
    contigs: list[str],
    arrow_schema: pa.Schema,
    regions,
    max_rows: int,
    info_defs: dict,
    fmt_defs: dict,
) -> tuple[pa.RecordBatch | None, int]:
    """Vectorized decode of a batch of BCF record bodies (shared+indiv
    concatenated; ``starts`` = body offsets, ``s_lens`` = shared-block
    lengths) into one Arrow RecordBatch.

    All records advance through the typed-value chain in numpy lockstep:
    one descriptor-byte gather per step (ID, allele_j, FILTER) yields the
    (type, length, value-offset) arrays for every record at once, with
    per-record fallback only for the rare 15+ extended lengths. String
    columns (ref/alt) build straight from gathered byte spans via the BAM
    `_utf8_array` path — no intermediate Python strings. INFO parsing
    runs only when the info column is projected, and only projected INFO
    keys are decoded. ``max_rows`` < 0 means no limit. Returns
    (batch | None, rows_kept)."""
    from oxbow_spark.sources.bam import _gather_ranges, _utf8_array

    n = len(starts)
    if n == 0:
        return None, 0
    c = codec
    arr = np.frombuffer(big, dtype=np.uint8)
    fx = arr[starts[:, None] + np.arange(24)].view(_PREFIX_DTYPE)[:, 0]
    chrom_id = fx["chrom"].astype(np.int64)
    pos1 = fx["pos"].astype(np.int64) + 1
    qbits = np.ascontiguousarray(fx["qual"])
    with np.errstate(invalid="ignore"):  # sentinel bits are signaling NaNs
        qual = qbits.view(np.float32).astype(np.float64)
    qual_missing = qbits == _MISSING_FLOAT_BITS
    n_allele = (fx["nai"] >> 16).astype(np.int64)
    n_info = (fx["nai"] & 0xFFFF).astype(np.int64)
    n_sample = (fx["nfs"] & 0xFFFFFF).astype(np.int64)
    n_fmt = (fx["nfs"] >> 24).astype(np.int64)
    indiv_off = starts + s_lens

    o = starts + 24  # running per-record offset, advanced by each step

    def heads(act: np.ndarray):
        """Lockstep typed-value descriptor read for the records in
        ``act``: one byte gather; (type, length, value-offset) arrays.
        Extended (15+) lengths fall back per record. Advances ``o``."""
        oo = o[act]
        d = arr[oo].astype(np.int64)
        t = d & 15
        ln = d >> 4
        voff = oo + 1
        ext = ln == 15
        if ext.any():
            for ii in np.flatnonzero(ext):
                tt, ll, vo = _tv_head(big, int(oo[ii]))
                t[ii], ln[ii], voff[ii] = tt, ll, vo
        o[act] = voff + ln * _TSZ_ARR[t]
        return t, ln, voff

    all_mask = np.ones(n, dtype=bool)
    t_id, ln_id, off_id = heads(all_mask)
    ln_id = np.where(t_id == 7, ln_id, 0)

    max_a = int(n_allele.max()) if n else 0
    a_len = np.zeros((max_a, n), dtype=np.int64)
    a_off = np.zeros((max_a, n), dtype=np.int64)
    for j in range(max_a):
        act = n_allele > j
        t, ln, voff = heads(act)
        a_len[j, act] = np.where(t == 7, ln, 0)
        a_off[j, act] = voff

    t_f, ln_f, off_f = heads(all_mask)

    # FILTER lists: common case is an int8 vector of 0-2 in-range ids;
    # sentinel-bearing or wide-typed vectors fall back to the generic
    # cleaner. PASS-only → [], empty → None, else names.
    filts: list = [None] * n
    nstr = len(strings)
    for i in range(n):
        lf = int(ln_f[i])
        if lf == 0:
            continue
        tf = int(t_f[i])
        if tf == 1:
            vs = [big[off_f[i] + j] for j in range(lf)]
            if all(v < 128 for v in vs):
                names = [strings[v] for v in vs if v < nstr]
                filts[i] = [] if names == ["PASS"] else (names or None)
                continue
        kind, vals = _tv_value(big, int(off_f[i]), tf, lf)
        if kind == "int":
            names = [strings[v] for v in vals if v is not None and v < nstr]
            filts[i] = [] if names == ["PASS"] else (names or None)

    want_info = c.info_names is not None
    infos: list = [None] * n if want_info else []
    if want_info:
        info_want = set(c.info_names)
        tsize = _TSIZE
        b = big
        for i in range(n):
            oi = int(o[i])
            iv: dict = {}
            for _ in range(int(n_info[i])):
                key, oi = _tv_int_scalar(b, oi)
                t, ln, oi = _tv_head(b, oi)
                name = strings[key] if key < nstr else None
                if name and name in info_want:
                    iv[name] = _tv_value(b, oi, t, ln)
                oi += tsize[t] * ln
            infos[i] = iv

    ref_len = a_len[0] if max_a else np.zeros(n, dtype=np.int64)
    if regions:
        keep_list = []
        for i in range(n):
            cid = int(chrom_id[i])
            nm = contigs[cid] if cid < len(contigs) else str(cid)
            p0 = int(pos1[i]) - 1
            e0 = p0 + int(ref_len[i])
            if any(
                (not reg.is_unmapped) and reg.name == nm and reg.overlaps(p0, e0)
                for reg in regions
            ):
                keep_list.append(i)
        keep = np.array(keep_list, dtype=np.int64)
    else:
        keep = np.arange(n)
    if max_rows >= 0:
        keep = keep[:max_rows]
    k = len(keep)
    if k == 0:
        return None, 0

    contigs_obj = np.array(contigs + [None], dtype=object)
    cid_safe = np.where(chrom_id < len(contigs), chrom_id, len(contigs))
    chrom_col = contigs_obj[cid_safe]
    oob = chrom_id >= len(contigs)
    if oob.any():
        for i in np.flatnonzero(oob):
            chrom_col[i] = str(int(chrom_id[i]))

    gt_cells: list | None = None
    if c.gt_names is not None:
        want_fmt = set(c.gt_names)
        sample_idx = {s: i for i, s in enumerate(c.header.samples)}
        gt_cells = []
        for i in keep:
            pf = _decode_indiv_record(
                big, int(indiv_off[i]), int(n_fmt[i]), int(n_sample[i]),
                strings, want_fmt,
            )
            per_sample_out = {}
            for s in c.samples:
                si = sample_idx[s]
                rec = {}
                for nm in c.gt_names:
                    cell = pf.get(nm)
                    v = cell[si] if cell and si < len(cell) else None
                    if nm == "GT":
                        rec[nm] = decode_gt(v[1]) if v and v[0] == "int" else None
                    else:
                        rec[nm] = _coerce_fmt(fmt_defs.get(nm), v)
                per_sample_out[s] = rec
            if c.genotype_by == "sample":
                gcols = [per_sample_out[s] for s in c.samples]
            else:
                gcols = [
                    {s: per_sample_out[s][g] for s in c.samples}
                    for g in c.gt_names
                ]
            gt_cells.append(gcols)

    gt_layout = (
        list(c.samples) if c.genotype_by == "sample" else list(c.gt_names or ())
    )
    std = {"chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "samples"}
    cols = []
    for fld in arrow_schema:
        nm = fld.name
        if nm == "chrom":
            cols.append(pa.array(chrom_col[keep], type=fld.type))
        elif nm == "pos":
            cols.append(pa.array((pos1 + c.coord_offset)[keep], type=fld.type))
        elif nm == "id":
            out = []
            for i in keep:
                li = int(ln_id[i])
                if li == 0:
                    out.append([])
                    continue
                s = big[int(off_id[i]):int(off_id[i]) + li].decode("ascii", "replace")
                out.append([] if s == "." else s.split(";"))
            cols.append(pa.array(out, type=fld.type))
        elif nm == "ref":
            lens_k = ref_len[keep]
            offs_k = (a_off[0] if max_a else np.zeros(n, dtype=np.int64))[keep]
            data, _ = _gather_ranges(arr, offs_k, lens_k)
            cols.append(_utf8_array(lens_k, data))
        elif nm == "alt":
            if max_a > 1:
                offs_T = a_off[1:].T[keep]  # (k, max_a-1), record-major
                lens_T = a_len[1:].T[keep]
                m = np.arange(1, max_a)[None, :] < n_allele[keep][:, None]
                flat_off = offs_T[m]
                flat_len = lens_T[m]
                counts = np.maximum(n_allele[keep] - 1, 0)
            else:
                flat_off = np.zeros(0, dtype=np.int64)
                flat_len = np.zeros(0, dtype=np.int64)
                counts = np.zeros(k, dtype=np.int64)
            data, _ = _gather_ranges(arr, flat_off, flat_len)
            values = _utf8_array(flat_len, data)
            offsets = pa.array(
                np.concatenate(([0], np.cumsum(counts))).astype(np.int32),
                type=pa.int32(),
            )
            cols.append(pa.ListArray.from_arrays(offsets, values).cast(fld.type))
        elif nm == "qual":
            cols.append(pa.array(qual[keep], type=fld.type, mask=qual_missing[keep]))
        elif nm == "filter":
            cols.append(pa.array([filts[i] for i in keep], type=fld.type))
        elif nm == "info":
            data = [
                {w: _coerce_info(info_defs.get(w), infos[i].get(w))
                 for w in c.info_names}
                for i in keep
            ]
            cols.append(pa.array(data, type=fld.type))
        elif nm == "samples" and c.samples_nested:
            names = gt_layout
            data = [dict(zip(names, gc)) for gc in gt_cells]
            cols.append(pa.array(data, type=fld.type))
        elif nm not in std and gt_cells is not None and nm in gt_layout:
            gi = gt_layout.index(nm)
            cols.append(pa.array([gc[gi] for gc in gt_cells], type=fld.type))
        else:  # pragma: no cover - schema is constructed from these names
            raise ValueError(f"unknown BCF column {nm!r}")
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema), k


def string_dictionary(header_lines: list[str]) -> list[str]:
    """FILTER/INFO/FORMAT id dictionary (spec §6.2.1): implicit PASS at 0,
    then ids in order of appearance; IDX= overrides the position."""
    d: dict[int, str] = {0: "PASS"}
    nxt = 1
    import re

    for line in header_lines:
        m = re.match(r"^##(FILTER|INFO|FORMAT)=<(.*)>\s*$", line)
        if not m:
            continue
        body = m.group(2)
        idm = re.search(r"ID=([^,>]+)", body)
        if not idm:
            continue
        name = idm.group(1)
        if name in d.values():
            continue
        idxm = re.search(r"IDX=(\d+)", body)
        if idxm:
            d[int(idxm.group(1))] = name
        else:
            while nxt in d:
                nxt += 1
            d[nxt] = name
            nxt += 1
    return [d.get(i, f"?{i}") for i in range(max(d) + 1)]


def contig_dictionary(header_lines: list[str]) -> list[str]:
    import re

    d: dict[int, str] = {}
    nxt = 0
    for line in header_lines:
        m = re.match(r"^##contig=<(.*)>\s*$", line)
        if not m:
            continue
        body = m.group(1)
        idm = re.search(r"ID=([^,>]+)", body)
        if not idm:
            continue
        idxm = re.search(r"IDX=(\d+)", body)
        if idxm:
            d[int(idxm.group(1))] = idm.group(1)
        else:
            while nxt in d:
                nxt += 1
            d[nxt] = idm.group(1)
            nxt += 1
    return [d.get(i, f"?{i}") for i in range(max(d) + 1)] if d else []


def read_bcf_header(r: BgzfReader) -> tuple[VcfHeader, list[str], list[str]]:
    magic = r.read(5)
    if magic[:3] != b"BCF":
        raise ValueError("not a BCF file (bad magic)")
    (l_text,) = struct.unpack("<I", r.read(4))
    text = r.read(l_text).split(b"\x00", 1)[0].decode("utf-8", "replace")
    lines = text.splitlines()
    hdr = VcfHeader.parse(lines)
    return hdr, string_dictionary(lines), contig_dictionary(lines)


def decode_gt(vals: list[int | None]) -> dict | None:
    if not vals:
        return None
    alleles, phased = [], []
    for v in vals:
        if v is None or v == 0:
            alleles.append(None)
            phased.append(False)
        else:
            alleles.append((v >> 1) - 1)
            phased.append(bool(v & 1))
    return {"allele": alleles, "phased": phased}


class _RawReader:
    """Plain-file stand-in for BgzfReader (uncompressed BCF)."""

    def __init__(self, path: str):
        self.f = fsio.open_binary(path)

    def read(self, n: int) -> bytes:
        return self.f.read(n)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.f.close()


def open_bcf(path: str):
    with fsio.open_binary(path) as f:
        magic = f.read(3)
    return _RawReader(path) if magic == b"BCF" else BgzfReader(path)


class BcfPartition(InputPartition):
    def __init__(self, path: str, vstart: int = -1, vend: int = -1):
        self.path = path
        # -1 → whole file; else a half-open BGZF virtual-position range of
        # record starts (CSI chunks / partition_from_index cuts)
        self.vstart = vstart
        self.vend = vend


DEFAULT_BCF_CHUNKSIZE = 16 * 1024 * 1024


class BcfReader(DataSourceReader):
    def __init__(self, src: "BcfDataSource"):
        self.paths = src.paths
        from oxbow_spark import coords as _coords

        self.codec: VcfCodec = src.codec()
        self.batch_size = int(src.options.get("batch_size", DEFAULT_BATCH_SIZE))
        self.limit = int(src.options.get("limit", -1))
        self.chunksize = int(src.options.get("chunksize", DEFAULT_BCF_CHUNKSIZE))
        self.regions = _coords.merge_regions(_coords.parse_regions(
            src.options.get("regions"), src.options.get("region_cs", "11")
        ))
        self.slow_decode = src.options.get("slow_decode", "false").lower() == "true"
        self.index_path = src.options.get("index")
        self._arrow_schema = to_arrow_schema(self.codec.schema)

    def partitions(self):
        """CSI-pushed planning (SURVEY F1/D1 for BCF): with a .csi index,
        region queries prune to index chunks and full scans split into
        ~chunksize vpos ranges; without one, one partition per file with
        residual-only filtering (the pre-CSI behavior)."""
        from oxbow_spark.sources.bgzf import (
            CsiIndex,
            coalesce_chunks,
            partition_from_index,
            query_chunks,
        )

        parts: list[BcfPartition] = []
        for p in self.paths:
            csi_path = self.index_path or p + ".csi"
            with fsio.open_binary(p) as f:
                raw = f.read(3) == b"BCF"  # uncompressed BCF: not splittable
            if raw or not fsio.exists(csi_path):
                parts.append(BcfPartition(p))
                continue
            idx = CsiIndex.read(csi_path)
            with open_bcf(p) as r:
                _hdr, _strings, contigs = read_bcf_header(r)
                first_vpos = r.tell_virtual()
            if self.regions:
                max_pos = 1 << (idx.min_shift + idx.depth * 3)
                chunks: list[tuple[int, int]] = []
                for reg in self.regions:
                    if reg.is_unmapped or reg.name not in contigs:
                        continue
                    rid = contigs.index(reg.name)
                    end = reg.end if reg.end is not None else max_pos
                    chunks.extend(query_chunks(idx, rid, reg.start, end))
                for cb, ce in coalesce_chunks(chunks):
                    parts.append(BcfPartition(p, cb, ce))
            else:
                size = fsio.getsize(p)
                for vs, ve in partition_from_index(idx, self.chunksize, first_vpos, size):
                    parts.append(BcfPartition(p, vs, ve))
        return parts or [BcfPartition(self.paths[0], 0, 0)]

    def _emit(self, rows):
        cols = list(zip(*rows)) if rows else [[] for _ in self._arrow_schema]
        arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, self._arrow_schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=self._arrow_schema)

    def _decode_record(self, shared: bytes, indiv: bytes, strings: list[str],
                       contigs: list[str]):
        c = self.codec
        hdr = c.header
        b = _Buf(shared)
        chrom_id, pos0, _rlen = struct.unpack_from("<iii", shared, 0)
        b.o = 12
        (qual,) = struct.unpack_from("<f", shared, 12)
        b.o = 16
        n_allele_info, n_fmt_sample = struct.unpack_from("<II", shared, 16)
        b.o = 24
        n_info = n_allele_info & 0xFFFF
        n_allele = n_allele_info >> 16
        n_sample = n_fmt_sample & 0xFFFFFF
        n_fmt = n_fmt_sample >> 24

        _, rid = read_typed(b)          # ID string
        alleles = []
        for _ in range(n_allele):
            _, a = read_typed(b)
            alleles.append(a if isinstance(a, str) else "")
        kind, filt = read_typed(b)      # FILTER int vector
        # raw wire bits: the MISSING sentinel is a signaling NaN that a
        # float pack round-trip would quiet (see _clean_floats_bits)
        (qbits,) = struct.unpack_from("<I", shared, 12)
        qual_v = None if qbits == _MISSING_FLOAT_BITS else qual

        filt_names = [strings[i] for i in filt if i is not None] if kind == "int" else []
        if filt_names == ["PASS"]:
            filter_v: list | None = []
        elif not filt_names:
            filter_v = None
        else:
            filter_v = filt_names

        row = [
            contigs[chrom_id] if chrom_id < len(contigs) else str(chrom_id),
            pos0 + 1,
            [] if not rid or rid == "." else rid.split(";"),
            alleles[0] if alleles else "",
            alleles[1:],
            qual_v,
            filter_v,
        ]

        info_vals: dict[str, object] = {}
        for _ in range(n_info):
            _, key = read_typed(b)
            key_id = key[0] if key else 0
            name = strings[key_id] if key_id < len(strings) else None
            kind, vals = read_typed(b)
            if name:
                info_vals[name] = (kind, vals)
        if c.info_names is not None:
            out = {}
            for nm in c.info_names:
                d = next((x for x in hdr.infos if x.name == nm), None)
                out[nm] = _coerce_info(d, info_vals.get(nm))
            row.append(out)

        if c.gt_names is not None:
            bi = _Buf(indiv)
            per_field: dict[str, list] = {}
            for _ in range(n_fmt):
                _, key = read_typed(bi)
                key_id = key[0] if key else 0
                name = strings[key_id] if key_id < len(strings) else None
                t, ln = _typed_meta(bi)
                vals_per_sample = []
                for _s in range(n_sample):
                    _vo = bi.o
                    raw = _typed_values_raw(bi, t, ln)
                    if t == 7:
                        vals_per_sample.append(("str", raw[0] if raw else ""))
                    elif t == 5:
                        # sentinel check must run on raw wire bits (the
                        # unpack→repack round trip quiets signaling NaNs)
                        bits = struct.unpack_from(f"<{ln}I", bi.b, _vo)
                        vals_per_sample.append(
                            ("float", _clean_floats_bits(bits, raw))
                        )
                    elif t in _MISSING:
                        vals_per_sample.append(("int", _clean_ints(raw, t)))
                    else:
                        vals_per_sample.append(("int", []))
                if name:
                    per_field[name] = vals_per_sample
            sample_idx = {s: i for i, s in enumerate(hdr.samples)}
            per_sample_out = {}
            for s in c.samples:
                i = sample_idx[s]
                rec = {}
                for nm in c.gt_names:
                    d = next((x for x in hdr.formats if x.name == nm), None)
                    cell = per_field.get(nm)
                    v = cell[i] if cell and i < len(cell) else None
                    if nm == "GT":
                        rec[nm] = decode_gt(v[1]) if v and v[0] == "int" else None
                    else:
                        rec[nm] = _coerce_fmt(d, v)
                per_sample_out[s] = rec
            if c.genotype_by == "sample":
                cols = [per_sample_out[s] for s in c.samples]
            else:
                cols = [
                    {s: per_sample_out[s][g] for s in c.samples} for g in c.gt_names
                ]
            if c.samples_nested:
                names = c.samples if c.genotype_by == "sample" else c.gt_names
                row.append(dict(zip(names, cols)))
            else:
                row.extend(cols)
        return row

    def read(self, part: BcfPartition):
        if self.slow_decode:
            yield from self._read_slow(part)
            return
        ranged = getattr(part, "vstart", -1) >= 0
        if ranged and part.vstart >= part.vend:
            yield self._emit([])
            return
        with open_bcf(part.path) as r:
            hdr, strings, contigs = read_bcf_header(r)
            if ranged:
                r.seek_virtual(max(part.vstart, r.tell_virtual()))
            c = self.codec
            info_defs = {d.name: d for d in hdr.infos}
            fmt_defs = {d.name: d for d in hdr.formats}
            bodies: list[bytes] = []
            slens: list[int] = []
            emitted = 0

            def flush():
                nonlocal bodies, slens, emitted
                if not bodies:
                    return None
                big = b"".join(bodies)
                lens = np.fromiter(
                    (len(s) for s in bodies), dtype=np.int64, count=len(bodies)
                )
                starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
                s_lens = np.asarray(slens, dtype=np.int64)
                remaining = self.limit - emitted if self.limit >= 0 else -1
                batch, got = decode_bcf_batch(
                    big, starts, s_lens, c, strings, contigs,
                    self._arrow_schema, self.regions, remaining,
                    info_defs, fmt_defs,
                )
                bodies, slens = [], []
                emitted += got
                return batch

            def frame_cap() -> int:
                # without a region filter every framed record is kept, so
                # a limit can stop framing early
                if self.limit < 0 or self.regions:
                    return self.batch_size
                return max(1, min(self.batch_size, self.limit - emitted))

            while True:
                if ranged and r.tell_virtual() >= part.vend:
                    break
                head = r.read(8)
                if len(head) < 8:
                    break
                l_shared, l_indiv = struct.unpack("<II", head)
                body = r.read(l_shared + l_indiv)
                if len(body) < l_shared + l_indiv:
                    break
                bodies.append(body)
                slens.append(l_shared)
                if len(bodies) >= frame_cap():
                    batch = flush()
                    if batch is not None:
                        yield batch
                    if 0 <= self.limit <= emitted:
                        return
            batch = flush()
            if batch is not None:
                yield batch
            if emitted == 0:
                yield self._emit([])

    def _read_slow(self, part: BcfPartition):
        """Per-record reference decode (the pre-vectorization path; kept as
        a verification twin — tests assert fast ≡ slow — and an escape
        hatch via ``slow_decode=true``)."""
        ranged = getattr(part, "vstart", -1) >= 0
        if ranged and part.vstart >= part.vend:
            yield self._emit([])
            return
        with open_bcf(part.path) as r:
            hdr, strings, contigs = read_bcf_header(r)
            if ranged:
                r.seek_virtual(max(part.vstart, r.tell_virtual()))
            c = self.codec
            rows, n = [], 0
            while True:
                if ranged and r.tell_virtual() >= part.vend:
                    break
                head = r.read(8)
                if len(head) < 8:
                    break
                l_shared, l_indiv = struct.unpack("<II", head)
                shared = r.read(l_shared)
                indiv = r.read(l_indiv)
                if len(shared) < l_shared or len(indiv) < l_indiv:
                    break
                row = self._decode_record(shared, indiv, strings, contigs)
                if self.regions:
                    iv = (row[0], row[1] - 1, row[1] - 1 + len(row[3]))
                    if not any(
                        (not reg.is_unmapped)
                        and reg.name == iv[0]
                        and reg.overlaps(iv[1], iv[2])
                        for reg in self.regions
                    ):
                        continue
                if c.coord_offset:
                    row[1] += c.coord_offset
                if c.project_indexes is not None:
                    row = [row[i] for i in c.project_indexes]
                rows.append(row)
                n += 1
                if len(rows) >= self.batch_size:
                    yield self._emit(rows)
                    rows = []
                if 0 <= self.limit <= n:
                    break
            if rows:
                yield self._emit(rows)


def _coerce_info(d, cell):
    """(kind, vals) from the wire → the VCF-text-equivalent python value."""
    if d is None or cell is None:
        return None
    kind, vals = cell
    if d.is_flag:
        return True
    if kind == "str":
        s = vals
        if not s or s == ".":
            return None
        return s if d.is_scalar else s.split(",")
    if not vals:
        return None
    if d.is_scalar:
        return vals[0]
    return list(vals)


def _coerce_fmt(d, cell):
    if d is None or cell is None:
        return None
    kind, vals = cell
    if kind == "str":
        s = vals
        if not s or s == ".":
            return None
        return s if d.is_scalar else s.split(",")
    if not vals or all(v is None for v in vals):
        return None
    if d.is_scalar:
        return vals[0]
    return list(vals)


class BcfDataSource(VcfDataSource):
    @classmethod
    def name(cls) -> str:
        return "bcf"

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.bcf_write import BcfWriter

        return BcfWriter(self.options, overwrite)

    def header(self) -> VcfHeader:
        with open_bcf(self._require_paths()[0]) as r:
            hdr, _, _ = read_bcf_header(r)
        return hdr

    def reader(self, schema) -> BcfReader:
        return BcfReader(self)
