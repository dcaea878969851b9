"""Per-record BCF decoder: the oracle for the columnar decode in
`oxbow_spark/sources/bcf.py`.

It walks one record at a time with `struct`, reading each typed value in
turn, and applies the VCF-text value rules per cell (`_coerce_info`,
`_coerce_fmt`, `decode_gt`). It shares with the library only the header
parse, the partition plan and the record framing, so a fault in the
columnar typed-value chain cannot show up on both sides of a test.

    read_table(path, options) -> pyarrow.Table
"""

from __future__ import annotations

import struct

import pyarrow as pa

from oxbow_spark.sources.bcf import BcfDataSource, open_bcf, read_bcf_header

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


def _split_list(s: str) -> list:
    """A list-Number String value: '.' and empty elements are null."""
    return [None if v in (".", "") else v for v in s.split(",")]


def _coerce_info(d, cell):
    """(kind, vals) from the wire → the VCF-text-equivalent python value."""
    if d is None or cell is None:
        return None
    kind, vals = cell
    if d.is_flag:
        return True
    if kind == "str":
        s = vals.rstrip("\x00")
        if not s or s == ".":
            return None
        return s if d.is_scalar else _split_list(s)
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
        # per-sample char cells are NUL-padded to a common width
        s = vals.rstrip("\x00")
        if not s or s == ".":
            return None
        return s if d.is_scalar else _split_list(s)
    if not vals or all(v is None for v in vals):
        return None
    if d.is_scalar:
        return vals[0]
    return list(vals)


def decode_record(c, shared: bytes, indiv: bytes, strings: list[str],
                  contigs: list[str]) -> list:
    """One record's (shared, indiv) blocks → a row in the full layout."""
    hdr = c.header
    b = _Buf(shared)
    chrom_id, pos0, _rlen = struct.unpack_from("<iii", shared, 0)
    (qual,) = struct.unpack_from("<f", shared, 12)
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
                    bits = struct.unpack_from(f"<{ln}I", bi.b, _vo)
                    vals_per_sample.append(("float", _clean_floats_bits(bits, raw)))
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


def _read_rows(rd, part) -> list[list]:
    """Rows of one partition, with the reader's region, limit, coordinate
    and projection options applied record by record."""
    c = rd.codec
    rows: list[list] = []
    ranged = part.vstart >= 0
    if ranged and part.vstart >= part.vend:
        return rows
    with open_bcf(part.path) as r:
        _hdr, strings, contigs = read_bcf_header(r)
        if ranged:
            r.seek_virtual(max(part.vstart, r.tell_virtual()))
        while not (ranged and r.tell_virtual() >= part.vend):
            head = r.read(8)
            if len(head) < 8:
                break
            l_shared, l_indiv = struct.unpack("<II", head)
            shared = r.read(l_shared)
            indiv = r.read(l_indiv)
            if len(shared) < l_shared or len(indiv) < l_indiv:
                break
            row = decode_record(c, shared, indiv, strings, contigs)
            if rd.regions:
                chrom, p0, e0 = row[0], row[1] - 1, row[1] - 1 + len(row[3])
                if not any((not reg.is_unmapped) and reg.name == chrom
                           and reg.overlaps(p0, e0) for reg in rd.regions):
                    continue
            row[1] += c.coord_offset
            if c.project_indexes is not None:
                row = [row[i] for i in c.project_indexes]
            rows.append(row)
            if 0 <= rd.limit <= len(rows):
                break
    return rows


def read_table(path: str, options: dict) -> pa.Table:
    """The whole scan of ``path`` under the BCF source's ``options``."""
    rd = BcfDataSource({"path": path, **options}).reader(None)
    rows = [row for part in rd.partitions() for row in _read_rows(rd, part)]
    schema = rd._arrow_schema
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.Table.from_arrays(
        [pa.array(list(col), type=f.type) for col, f in zip(cols, schema)],
        schema=schema)
