"""BCF DataSource: ``spark.read.format("bcf")``.

Parity: reference BCF scanner (`oxbow/src/variant/scanner/bcf.rs`, SURVEY
S5) — same Model/schema as VCF (the source subclasses the VCF DataSource
for header parsing, option handling and schema assembly) with the BCF2.2
binary record codec (public spec: SAMv1/VCFv4.x specification §6).

Every batch is decoded columnar (`decode_bcf_batch`): the records of a
batch move through their typed values together in numpy, and the Arrow
columns, INFO and genotype structs included, are built from arrays.
There is no per-record decode path; `tests/bcf_reference.py` keeps a
per-record decoder as the test oracle.

BCF specifics handled here:
- typed values (int8/16/32, float, char) with 15-length extension,
  MISSING and END-OF-VECTOR sentinels;
- the string dictionary (FILTER/INFO/FORMAT ids in order of appearance,
  IDX= override, implicit PASS at 0) and the contig dictionary;
- GT encoding ``(allele+1)<<1 | phased`` per sample;
- per-sample char cells NUL-padded to a common width;
- String INFO/FORMAT values with list Numbers are comma-joined in BCF
  and are split back to lists to match the VCF text semantics.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema

from oxbow_spark import coords as _coords
from oxbow_spark.models.vcf_header import VcfHeader
from oxbow_spark.sources.bam import _gather_ranges, _utf8_array
from oxbow_spark.sources.base import DEFAULT_BATCH_SIZE
from oxbow_spark.sources.bgzf import BgzfReader, frame_records, open_index, plan_ranges
from oxbow_spark.sources.vcf import VcfCodec, VcfDataSource, _null_if, _split_semantic

from oxbow_spark.sources import fsio

_MISSING = {1: -128, 2: -32768, 3: -2147483648}
_EOV = {1: -127, 2: -32767, 3: -2147483647}
_MISSING_FLOAT_BITS = 0x7F800001
_EOV_FLOAT_BITS = 0x7F800002
_NP_DT = {1: "<i1", 2: "<i2", 3: "<i4", 5: "<f4"}
# wire type → value size in bytes, and → cell kind (1 int, 2 float, 3 char)
_TSZ_ARR = np.zeros(16, dtype=np.int64)
_TSZ_ARR[[1, 2, 3, 5, 7]] = [1, 2, 4, 4, 1]
_KIND_ARR = np.zeros(16, dtype=np.int8)
_KIND_ARR[[1, 2, 3, 5, 7]] = [1, 1, 1, 2, 3]

# ---------------------------------------------------------------------------
# Columnar batch decode (the BAM `decode_record_batch` treatment applied to
# BCF, cf. `bam.py:238-399`; reference throughput contract:
# `oxbow/src/variant/scanner/bcf.rs`). The 24-byte fixed prefix of every
# record in a batch is gathered into one numpy structured view. The typed
# values after it are read in lockstep: step j reads the j-th descriptor
# of every record at once, so a chain of (key, value) pairs becomes
# (key, type, length, offset) matrices with one row per step. A field's
# values are then gathered per (type, width) group with one byte gather
# and one `np.frombuffer` view, and the Arrow columns are built from those
# arrays. Only the projected INFO and FORMAT fields are gathered.
# ---------------------------------------------------------------------------

_PREFIX_DTYPE = np.dtype([
    ("chrom", "<i4"), ("pos", "<i4"), ("rlen", "<i4"), ("qual", "<u4"),
    ("nai", "<u4"), ("nfs", "<u4"),
])


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


def _heads(arr: np.ndarray, big: bytes, o: np.ndarray, reps=1):
    """Typed-value descriptors at offsets ``o`` (one per record) →
    (type, length, value offset, offset past ``reps`` such values).
    Extended (15+) lengths are read per record."""
    d = arr[o].astype(np.int64)
    t, ln, voff = d & 15, d >> 4, o + 1
    for i in np.flatnonzero(ln == 15):
        t[i], ln[i], voff[i] = _tv_head(big, int(o[i]))
    return t, ln, voff, voff + ln * _TSZ_ARR[t] * reps


def _keys(arr: np.ndarray, big: bytes, o: np.ndarray):
    """Typed int scalars (dictionary keys) at offsets ``o`` → (key,
    next offset); -1 where a descriptor holds no int."""
    t, ln, voff, nxt = _heads(arr, big, o)
    key = np.full(len(o), -1, dtype=np.int64)
    for tt in (1, 2, 3):
        m = (t == tt) & (ln > 0)
        if m.any():
            b = arr[voff[m, None] + np.arange(_TSZ_ARR[tt])]
            key[m] = b.view(_NP_DT[tt])[:, 0]
    return key, nxt


def _steps(arr: np.ndarray, big: bytes, o: np.ndarray, count: np.ndarray,
           reps: np.ndarray):
    """Walk ``count[r]`` (key, typed value) pairs of every record r in
    lockstep, ``reps[r]`` values per descriptor → (key, type, length,
    value offset) matrices of shape (max count, records); key -1 pads."""
    n = len(o)
    m = int(count.max()) if n else 0
    key = np.full((m, n), -1, dtype=np.int64)
    t, ln, off = (np.zeros((m, n), dtype=np.int64) for _ in range(3))
    o = o.copy()
    for j in range(m):
        act = np.flatnonzero(count > j)
        key[j, act], oo = _keys(arr, big, o[act])
        t[j, act], ln[j, act], off[j, act], o[act] = _heads(arr, big, oo, reps[act])
    return key, t, ln, off


def _pick(steps, wid: int):
    """The (type, length, offset) of key ``wid`` in every record, from
    the last step that holds it (a repeated key overwrites, as the VCF
    text parse does); ``has`` is False where a record lacks it."""
    key, t, ln, off = steps
    hit = key == wid
    has = hit.any(axis=0)
    if not has.any():
        z = np.zeros(len(has), dtype=np.int64)
        return has, z, z, z
    j = len(key) - 1 - hit[::-1].argmax(axis=0)
    r = np.arange(len(has))
    return has, t[j, r], ln[j, r], off[j, r]


def _spans(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated index ranges ``[starts[i], starts[i] + lens[i])``."""
    return np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(int(lens.sum()))


def _offsets(lens: np.ndarray) -> pa.Array:
    return pa.array(np.concatenate(([0], np.cumsum(lens))).astype(np.int32))


def _ascii_array(lens: np.ndarray, data: np.ndarray, null=None) -> pa.Array:
    """utf8 array of ASCII byte spans. A byte past 0x7F becomes U+FFFD,
    as ``bytes.decode("ascii", "replace")`` makes it."""
    hi = data > 0x7F
    if hi.any():
        rep = np.where(hi, 3, 1)
        at = (np.cumsum(rep) - rep)[hi]
        seg = np.repeat(np.arange(len(lens)), lens)
        lens = lens + 2 * np.bincount(seg[hi], minlength=len(lens))
        data = np.repeat(data, rep)
        for j, byte in enumerate(b"\xef\xbf\xbd"):
            data[at + j] = byte
    return _utf8_array(lens, data, null)


def _struct(typ: pa.StructType, children: list, k: int) -> pa.StructArray:
    """``k`` valid rows of ``typ``; unlike ``from_arrays``, this takes a
    struct with no fields (an empty INFO or sample set) too."""
    return pa.StructArray.from_buffers(typ, k, [None], children=children)


class _Cells(NamedTuple):
    """One field's values over a batch. Record r holds ``reps[r]`` cells
    (one per sample; 0 where it lacks the field) from cell ``base[r]``, of
    wire kind ``kind[r]`` (1 int, 2 float, 3 char). Cell c spans
    ``length[c]`` values of ``nums`` or ``chars`` from ``start[c]``: up to
    the first EOV, or before the trailing NUL padding of a char cell.
    ``nvalid[c]`` counts its non-MISSING values. The last cell, and the
    last element of ``nums``/``nmiss``/``chars``, are empty padding that
    absent cells point at."""

    kind: np.ndarray
    base: np.ndarray
    reps: np.ndarray
    start: np.ndarray
    length: np.ndarray
    nvalid: np.ndarray
    nums: np.ndarray
    nmiss: np.ndarray
    chars: np.ndarray


def _decode_cells(arr: np.ndarray, t: np.ndarray, ln: np.ndarray,
                  off: np.ndarray, reps: np.ndarray) -> _Cells:
    """Gather ``reps[r]`` cells of ``ln[r]`` values of wire type ``t[r]``
    from ``off[r]`` for every record r: one byte gather and one typed view
    per (type, width) group, with MISSING and EOV found on the raw wire
    bits (the float sentinels are signaling NaNs a float cast would
    quiet)."""
    kind = _KIND_ARR[t]
    reps = np.where((kind > 0) & (ln > 0), reps, 0)
    nc = int(reps.sum())
    base = np.cumsum(reps) - reps
    start, length, nvalid = (np.zeros(nc + 1, dtype=np.int64) for _ in range(3))
    nums, nmiss, chars = [], [], []
    n_num = n_chr = 0
    live = np.flatnonzero(reps)
    for tt, w in np.unique(np.stack([t[live], ln[live]], axis=1), axis=0):
        g = live[(t[live] == tt) & (ln[live] == w)]
        cells = _spans(base[g], reps[g])
        data, _ = _gather_ranges(arr, off[g], reps[g] * w * _TSZ_ARR[tt])
        if tt == 7:
            nz = data.reshape(-1, w) != 0
            clen = np.where(nz.any(axis=1), w - nz[:, ::-1].argmax(axis=1), 0)
            start[cells] = n_chr + np.arange(len(cells)) * w
            nvalid[cells] = clen
            chars.append(data)
            n_chr += data.size
        else:
            vals = data.view(_NP_DT[tt]).reshape(-1, w)
            if tt == 5:
                bits = data.view("<u4").reshape(-1, w)
                eov, miss = bits == _EOV_FLOAT_BITS, bits == _MISSING_FLOAT_BITS
            else:
                eov, miss = vals == _EOV[tt], vals == _MISSING[tt]
            clen = np.where(eov.any(axis=1), eov.argmax(axis=1), w)
            nvalid[cells] = ((np.arange(w) < clen[:, None]) & ~miss).sum(axis=1)
            start[cells] = n_num + np.arange(len(cells)) * w
            nums.append(vals.ravel())
            nmiss.append(miss.ravel())
            n_num += vals.size
        length[cells] = clen
    return _Cells(kind, base, reps, start, length, nvalid,
                  np.concatenate([*nums, np.zeros(1, np.int8)]),
                  np.concatenate([*nmiss, np.ones(1, bool)]),
                  np.concatenate([*chars, np.zeros(1, np.uint8)]))


@np.errstate(invalid="ignore")  # a cast of masked MISSING NaNs may warn
def _column(c: _Cells, si: int, typ: pa.DataType, fmt: bool) -> pa.Array:
    """Cell ``si`` of every record (a sample; 0 for INFO) as an Arrow
    column of ``typ``, under the VCF text rules: an absent, empty or '.'
    cell is null, and so is an all-MISSING FORMAT cell; a scalar takes the
    first value; a list-Number string splits on ',' with '.' and empty
    elements null; GT (the struct type) unpacks ``(allele + 1) << 1 |
    phased``, with 0 and MISSING a null allele that is not phased."""
    cell = np.where(c.reps > si, c.base + si, -1)
    ln, st = c.length[cell], c.start[cell]
    is_list = pa.types.is_list(typ)
    vt = typ.value_type if is_list else typ
    if pa.types.is_struct(typ):
        null = (ln == 0) | (c.kind != 1)
    elif pa.types.is_string(vt):
        null = (ln == 0) | (c.kind != 3)
        null |= (ln == 1) & (c.chars[np.where(null, -1, st)] == ord("."))
    else:
        null = (ln == 0) | (c.kind == 3)
        if fmt:
            null |= c.nvalid[cell] == 0
    st = np.where(null, -1, st)
    lens = np.where(null, 0, ln)
    if pa.types.is_string(vt):
        col = _ascii_array(lens, c.chars[_spans(st, lens)], null)
        if not is_list:
            return col
        lists = pc.split_pattern(col, ",")
        return pa.ListArray.from_arrays(
            lists.offsets, _null_if(lists.values, ".", ""), mask=pa.array(null)
        ).cast(typ)
    if not is_list and not pa.types.is_struct(typ):
        return pa.array(c.nums[st].astype(vt.to_pandas_dtype()), mask=null | c.nmiss[st])
    idx = _spans(st, lens)
    offs, mask = _offsets(lens), pa.array(null)
    if is_list:
        vals = pa.array(c.nums[idx].astype(vt.to_pandas_dtype()), mask=c.nmiss[idx])
        return pa.ListArray.from_arrays(offs, vals, type=typ, mask=mask)
    v = c.nums[idx].astype(np.int64)
    gone = c.nmiss[idx] | (v == 0)
    allele = pa.array(((v >> 1) - 1).astype(np.int32), mask=gone)
    phased = pa.array(~gone & (v & 1 == 1))
    return pa.StructArray.from_arrays([
        pa.ListArray.from_arrays(offs, allele, type=typ.field("allele").type),
        pa.ListArray.from_arrays(offs, phased, type=typ.field("phased").type),
    ], fields=list(typ), mask=mask)


def _filter_column(c: _Cells, strings: list[str], typ: pa.DataType) -> pa.Array:
    """FILTER id vectors → names: PASS alone → [], none → null. MISSING
    and ids outside the dictionary are dropped."""
    cell = np.where(c.reps > 0, c.base, -1)
    lens = np.where(c.kind == 1, c.length[cell], 0)
    idx = _spans(c.start[cell], lens)
    v = c.nums[idx].astype(np.int64)
    ok = ~c.nmiss[idx] & (v >= 0) & (v < len(strings))
    k = len(lens)
    cnt = np.bincount(np.repeat(np.arange(k), lens)[ok], minlength=k)
    v = v[ok]
    is_pass = np.array([s == "PASS" for s in strings], dtype=bool)
    pass_only = np.zeros(k, dtype=bool)
    one = cnt == 1
    pass_only[one] = is_pass[v[(np.cumsum(cnt) - cnt)[one]]]
    v = v[~np.repeat(pass_only, cnt)]
    names = pa.array(strings, pa.string()).take(pa.array(v, pa.int64()))
    return pa.ListArray.from_arrays(
        _offsets(np.where(pass_only, 0, cnt)), names, type=typ,
        mask=pa.array(cnt == 0))


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
) -> tuple[pa.RecordBatch | None, int]:
    """Columnar decode of a batch of BCF record bodies (shared+indiv
    concatenated; ``starts`` = body offsets, ``s_lens`` = shared-block
    lengths) into one Arrow RecordBatch.

    ID, alleles and FILTER are read in lockstep for every record, which
    gives the REF span the region filter needs. INFO and FORMAT are read
    only for the records the region filter and ``max_rows`` keep
    (``max_rows`` < 0 means no limit), and only when projected. Returns
    (batch | None, rows_kept)."""
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

    t_id, ln_id, off_id, o = _heads(arr, big, starts + 24)
    ln_id = np.where(t_id == 7, ln_id, 0)
    max_a = int(n_allele.max())
    a_len = np.zeros((max(max_a, 1), n), dtype=np.int64)
    a_off = np.zeros((max(max_a, 1), n), dtype=np.int64)
    for j in range(max_a):
        act = np.flatnonzero(n_allele > j)
        t, ln, a_off[j, act], o[act] = _heads(arr, big, o[act])
        a_len[j, act] = np.where(t == 7, ln, 0)
    t_f, ln_f, off_f, o = _heads(arr, big, o)

    contigs_obj = np.array(contigs + [None], dtype=object)
    chrom_col = contigs_obj[np.where(chrom_id < len(contigs), chrom_id, len(contigs))]
    for i in np.flatnonzero(chrom_id >= len(contigs)):
        chrom_col[i] = str(int(chrom_id[i]))
    if regions:
        keep = np.flatnonzero(_coords.region_mask(
            regions, chrom_col, pos1 - 1, pos1 - 1 + a_len[0]))
    else:
        keep = np.arange(n)
    if max_rows >= 0:
        keep = keep[:max_rows]
    k = len(keep)
    if k == 0:
        return None, 0

    sid = {s: i for i, s in enumerate(strings)}
    sample_idx = {s: i for i, s in enumerate(c.header.samples)}
    n_sample_k = n_sample[keep]
    if c.gt_names is not None:
        fmt_steps = _steps(arr, big, (starts + s_lens)[keep], n_fmt[keep], n_sample_k)
    fmt_cells: dict[str, _Cells] = {}

    def fmt_column(field: str, sample: str, typ: pa.DataType) -> pa.Array:
        if field not in fmt_cells:
            has, t, ln, off = _pick(fmt_steps, sid.get(field, -2))
            fmt_cells[field] = _decode_cells(arr, t, ln, off, np.where(has, n_sample_k, 0))
        return _column(fmt_cells[field], sample_idx[sample], typ, fmt=True)

    def genotypes(outer: str, typ: pa.StructType) -> pa.StructArray:
        """One struct of FORMAT cells: a sample's fields, or a field's
        samples under ``genotype_by=field``."""
        if c.genotype_by == "sample":
            kids = [fmt_column(f.name, outer, f.type) for f in typ]
        else:
            kids = [fmt_column(outer, f.name, f.type) for f in typ]
        return _struct(typ, kids, k)

    gt_layout = set(c.samples if c.genotype_by == "sample" else c.gt_names or ())
    std = {"chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "samples"}
    cols = []
    for fld in arrow_schema:
        nm = fld.name
        if nm == "chrom":
            cols.append(pa.array(chrom_col[keep], type=fld.type))
        elif nm == "pos":
            cols.append(pa.array((pos1 + c.coord_offset)[keep], type=fld.type))
        elif nm == "id":
            data, _ = _gather_ranges(arr, off_id[keep], ln_id[keep])
            ids = _ascii_array(ln_id[keep], data)
            cols.append(_split_semantic(ids, ";", empty=(".", "")).cast(fld.type))
        elif nm == "ref":
            data, _ = _gather_ranges(arr, a_off[0][keep], a_len[0][keep])
            cols.append(_ascii_array(a_len[0][keep], data))
        elif nm == "alt":
            counts = np.maximum(n_allele[keep] - 1, 0)
            m = np.arange(1, max(max_a, 1))[None, :] < n_allele[keep][:, None]
            flat_off, flat_len = a_off[1:].T[keep][m], a_len[1:].T[keep][m]
            data, _ = _gather_ranges(arr, flat_off, flat_len)
            cols.append(pa.ListArray.from_arrays(
                _offsets(counts), _ascii_array(flat_len, data), type=fld.type))
        elif nm == "qual":
            cols.append(pa.array(qual[keep], type=fld.type, mask=qual_missing[keep]))
        elif nm == "filter":
            cells = _decode_cells(arr, t_f[keep], ln_f[keep], off_f[keep],
                                  np.ones(k, dtype=np.int64))
            cols.append(_filter_column(cells, strings, fld.type))
        elif nm == "info":
            steps = _steps(arr, big, o[keep], n_info[keep], np.ones(k, dtype=np.int64))
            kids = []
            for f in fld.type:
                has, t, ln, off = _pick(steps, sid.get(f.name, -2))
                if pa.types.is_boolean(f.type):  # Flag: present → True
                    kids.append(pa.array(np.ones(k, dtype=bool), mask=~has))
                else:
                    cells = _decode_cells(arr, t, ln, off, has.astype(np.int64))
                    kids.append(_column(cells, 0, f.type, fmt=False))
            cols.append(_struct(fld.type, kids, k))
        elif nm == "samples" and c.samples_nested:
            cols.append(_struct(fld.type, [genotypes(f.name, f.type) for f in fld.type], k))
        elif nm not in std and nm in gt_layout:
            cols.append(genotypes(nm, fld.type))
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


def open_bcf(path: str):
    """A reader of the BCF file: BgzfReader, or the plain file when the
    BCF is uncompressed."""
    f = fsio.open_binary(path)
    if f.read(3) == b"BCF":
        f.seek(0)
        return f
    f.close()
    return BgzfReader(path)


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
        self.codec: VcfCodec = src.codec()
        self.batch_size = int(src.options.get("batch_size", DEFAULT_BATCH_SIZE))
        self.limit = int(src.options.get("limit", -1))
        self.chunksize = int(src.options.get("chunksize", DEFAULT_BCF_CHUNKSIZE))
        self.regions = _coords.merge_regions(_coords.parse_regions(
            src.options.get("regions"), src.options.get("region_cs", "11")
        ))
        self.index_path = src.options.get("index")
        self._arrow_schema = to_arrow_schema(self.codec.schema)

    def partitions(self):
        """CSI-pushed planning (SURVEY F1/D1 for BCF): with a .csi index,
        region queries prune to index chunks and full scans split into
        ~chunksize vpos ranges; uncompressed or index-less input is one
        whole-file partition with residual-only filtering."""
        parts: list[BcfPartition] = []
        for p in self.paths:
            with open_bcf(p) as r:
                index = None  # uncompressed BCF is not splittable
                if isinstance(r, BgzfReader):
                    index = open_index(self.index_path, (p + ".csi",))[0]
                if index is not None:
                    _hdr, _strings, contigs = read_bcf_header(r)
                    first_vpos = r.tell_virtual()
            if index is None:
                parts.append(BcfPartition(p))
                continue
            parts.extend(BcfPartition(p, vs, ve) for vs, ve in plan_ranges(
                index, contigs, self.regions, self.chunksize, first_vpos,
                fsio.getsize(p)))
        return parts or [BcfPartition(self.paths[0], 0, 0)]

    def _empty(self) -> pa.RecordBatch:
        return pa.RecordBatch.from_pylist([], schema=self._arrow_schema)

    def read(self, part: BcfPartition):
        ranged = part.vstart >= 0
        if ranged and part.vstart >= part.vend:
            yield self._empty()
            return
        with open_bcf(part.path) as r:
            _hdr, strings, contigs = read_bcf_header(r)
            if isinstance(r, BgzfReader):
                blocks = r.blocks(max(part.vstart, r.tell_virtual()),
                                  part.vend if ranged else None)
            else:
                blocks = ((b, None) for b in iter(lambda: r.read(1 << 20), b""))
            # without a region filter every framed record is kept, so the
            # framer can stop at the limit
            framed_limit = -1 if self.regions else self.limit
            emitted = 0
            for big, starts, heads in frame_records(
                    blocks, "<II", self.batch_size, framed_limit):
                remaining = self.limit - emitted if self.limit >= 0 else -1
                batch, got = decode_bcf_batch(
                    big, starts, heads[:, 0], self.codec, strings, contigs,
                    self._arrow_schema, self.regions, remaining,
                )
                emitted += got
                if batch is not None:
                    yield batch
                if 0 <= self.limit <= emitted:
                    break
            if emitted == 0:
                yield self._empty()


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
