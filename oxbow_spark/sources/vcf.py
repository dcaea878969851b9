"""VCF DataSource: ``spark.read.format("vcf")``.

Parity: reference VCF scanner (`oxbow/src/variant/scanner/vcf.rs:200-211`,
SURVEY S4) with header-derived nested schemas
(`variant/model.rs:119-271`). Options:

- ``fields``: projection over chrom pos id ref alt qual filter
- ``info_fields``: '*' (default, all header INFO defs) | comma list | ''
  (drop the info column)
- ``genotype_fields``: '*' (default) | comma list | '' (drop genotypes)
- ``samples``: comma list restricting sample columns (default all)
- ``genotype_by``: 'sample' (default; one struct column per sample) |
  'field' (one struct column per FORMAT field keyed by sample)
  (`variant/model/batch.rs:28-31`)
- ``samples_nested``: 'true' → genotype columns under one ``samples``
  struct (`variant/model.rs:262-270`)
- ``coords``: '11' (native) | '01'; ``regions``; ``batch_size``; ``limit``

Value semantics per `variant/model/field.rs:180-259`: id '.' → [], alt
'.' → [], qual '.' → null, filter PASS → [] / '.' → null / else names;
GT → struct<allele array<int>, phased array<boolean>>.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import types as T

from oxbow_spark.models.vcf_header import (
    STANDARD_FIELD_NAMES,
    STANDARD_FIELDS,
    VcfFieldDef,
    VcfHeader,
    parse_alt,
    parse_filter,
    parse_gt,
    parse_id,
)
from oxbow_spark.sources.base import (
    Codec,
    TextFormatSource,
    open_text,
    project,
    select_fields,
)


@dataclass
class VcfCodec(Codec):
    header: VcfHeader = None  # type: ignore[assignment]
    info_names: tuple[str, ...] | None = None   # None → no info column
    gt_names: tuple[str, ...] | None = None     # None → no genotype columns
    samples: tuple[str, ...] = ()
    genotype_by: str = "sample"
    samples_nested: bool = False

    def parse_line(self, line: str) -> list | None:
        c = line.split("\t")
        if len(c) < 8:
            raise ValueError(f"malformed VCF line: {line[:80]!r}")
        row = [
            c[0],
            int(c[1]),
            parse_id(c[2]),
            c[3],
            parse_alt(c[4]),
            None if c[5] == "." else float(c[5]),
            parse_filter(c[6]),
        ]
        if self.info_names is not None:
            row.append(self.header.parse_info(c[7], list(self.info_names)))
        if self.gt_names is not None:
            fmt_keys = c[8].split(":") if len(c) > 8 else []
            per_sample = {}
            for i, s in enumerate(self.header.samples):
                if s not in self.samples:
                    continue
                raw = c[9 + i] if len(c) > 9 + i else ""
                per_sample[s] = self.header.parse_sample(
                    fmt_keys, raw, list(self.gt_names)
                )
            if self.genotype_by == "sample":
                cols = [per_sample[s] for s in self.samples]
            else:  # by field: one struct per FORMAT field, keyed by sample
                cols = [
                    {s: per_sample[s][g] for s in self.samples}
                    for g in self.gt_names
                ]
            if self.samples_nested:
                names = self.samples if self.genotype_by == "sample" else self.gt_names
                row.append(dict(zip(names, cols)))
            else:
                row.extend(cols)
        return row

    def table_interval(self, table: "pa.Table"):
        """(chrom, start0, end0) for the region mask: pos is 1-based in
        the parsed layout, end spans the REF allele."""
        import pyarrow.compute as pc

        s0 = pc.subtract(table["pos"], 1)
        return table["chrom"], s0, pc.add(s0, pc.utf8_length(table["ref"]))

    def parse_table(self, data: bytes) -> "pa.Table | None":
        """Vectorized partition parse (the pyarrow.csv fast path proven on
        BED): C++ TSV read + arrow kernels for the sentinel/list columns —
        no Python per line. Header-typed INFO and FORMAT/genotype structs
        are ALSO vectorized (regex field extraction, dictionary-encoded
        FORMAT key positions, numpy subfield gather, masked typed casts);
        any irregularity the kernels can't reproduce exactly — ragged
        rows, numerics the typed cast can't parse — falls back wholesale
        to the per-line reference loop (None), keeping fast ≡ slow."""
        import pyarrow.csv as pacsv

        if data.startswith(b"#") or b"\n#" in data:
            data = b"\n".join(
                ln for ln in data.split(b"\n") if ln and not ln.startswith(b"#")
            )
        if not data.strip():
            if self.info_names is not None or self.gt_names is not None:
                return None  # let the line loop emit the empty batch
            return pa.table({
                "chrom": pa.array([], pa.string()),
                "pos": pa.array([], pa.int64()),
                "id": pa.array([], pa.list_(pa.string())),
                "ref": pa.array([], pa.string()),
                "alt": pa.array([], pa.list_(pa.string())),
                "qual": pa.array([], pa.float64()),
                "filter": pa.array([], pa.list_(pa.string())),
            })
        ns = len(self.header.samples)
        ncols = 8 + (1 + ns if ns else 0)
        names = [f"c{i}" for i in range(ncols)]
        want = [f"c{i}" for i in range(8)]
        if self.gt_names is not None:
            want.append("c8")
            sample_pos = {s: i for i, s in enumerate(self.header.samples)}
            want += [f"c{9 + sample_pos[s]}" for s in self.samples]
        try:
            raw = pacsv.read_csv(
                pa.BufferReader(data),
                read_options=pacsv.ReadOptions(
                    column_names=names, block_size=1 << 24
                ),
                parse_options=pacsv.ParseOptions(
                    delimiter="\t", quote_char=False, escape_char=False,
                ),
                convert_options=pacsv.ConvertOptions(
                    column_types={nm: pa.string() for nm in names},
                    include_columns=want,
                ),
            )
        except pa.ArrowInvalid:
            return None  # ragged/odd rows: the line loop reports them
        try:
            cols: dict[str, pa.Array] = {
                "chrom": raw["c0"].combine_chunks(),
                "pos": raw["c1"].combine_chunks().cast(pa.int64()),
                "id": _split_semantic(raw["c2"], ";", empty=(".", "")),
                "ref": raw["c3"].combine_chunks(),
                "alt": _split_semantic(raw["c4"], ",", empty=(".", "")),
                "qual": _null_if(raw["c5"].combine_chunks(), ".").cast(pa.float64()),
                "filter": _split_semantic(
                    raw["c6"], ";", empty=("PASS",), null=(".", "")
                ),
            }
            if self.info_names is not None:
                info = _info_struct(raw["c7"].combine_chunks(),
                                    self.header, self.info_names)
                if info is None:
                    return None
                cols["info"] = info
            if self.gt_names is not None:
                gcols = _genotype_columns(raw, self.header, self.samples,
                                          self.gt_names)
                if gcols is None:
                    return None
                per_sample, gdefs = gcols
                if self.genotype_by == "sample":
                    built = [
                        (s, pa.StructArray.from_arrays(
                            [per_sample[s][d.name] for d in gdefs],
                            names=[d.name for d in gdefs]))
                        for s in self.samples
                    ]
                else:  # by field: one struct per FORMAT field, keyed by sample
                    built = [
                        (d.name, pa.StructArray.from_arrays(
                            [per_sample[s][d.name] for s in self.samples],
                            names=list(self.samples)))
                        for d in gdefs
                    ]
                if self.samples_nested:
                    cols["samples"] = pa.StructArray.from_arrays(
                        [a for _, a in built], names=[n for n, _ in built]
                    )
                else:
                    for n, a in built:
                        cols[n] = a
            return pa.table(cols)
        except pa.ArrowInvalid:
            return None


_INT_RE = r"^[+-]?[0-9]+$"
# floats the typed cast and Python's float() agree on (plain/scientific
# decimals; rarities like inf/nan/hex fall back to the line loop)
_FLOAT_RE = r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$"


def _checked_cast(col: "pa.Array", vtype: str) -> "pa.Array | None":
    """Cast a string array (nulls allowed) to the VCF base type, or None
    if ANY non-null value wouldn't parse the way the reference per-value
    parser does — the caller then falls back to the line loop, keeping
    fast ≡ slow on odd inputs instead of approximating them."""
    import pyarrow.compute as pc

    if vtype == "Integer":
        target, pat = pa.int64(), _INT_RE
    elif vtype == "Float":
        target, pat = pa.float64(), _FLOAT_RE
    else:
        return col  # String/Character stay as-is
    ok = pc.fill_null(pc.match_substring_regex(col, pat), True)
    if len(ok) and pc.min(ok).as_py() is False:
        return None
    return col.cast(target)


def _typed_field(col: "pa.Array", d: VcfFieldDef) -> "pa.Array | None":
    """Typed promotion of one raw field column (null = field absent,
    '' = present-empty), mirroring `VcfFieldDef.parse` semantics."""
    import pyarrow.compute as pc

    if d.is_flag:
        return pc.if_else(
            pc.is_valid(col), pa.scalar(True), pa.scalar(None, pa.bool_())
        )
    if d.is_scalar:
        return _checked_cast(_null_if(col, ".", ""), d.vtype)
    # array-valued: raw '.' → null, else ','-split with '.'/'' elements null
    col = _null_if(col, ".")
    lists = pc.split_pattern(col, ",")
    if isinstance(lists, pa.ChunkedArray):
        lists = lists.combine_chunks()
    flat = _checked_cast(_null_if(lists.values, ".", ""), d.vtype)
    if flat is None:
        return None
    return pa.ListArray.from_arrays(
        lists.offsets, flat, mask=pc.is_null(col).combine_chunks()
        if isinstance(col, pa.ChunkedArray) else pc.is_null(col)
    )


def _info_struct(col: "pa.Array", header: VcfHeader,
                 info_names: tuple[str, ...]) -> "pa.StructArray | None":
    """INFO text column → struct array, fields in header order (matching
    `VcfHeader.info_struct`). Per field: RE2 presence / value extraction
    over the whole column — `(^|;)NAME=` captures the value, bare
    `(^|;)NAME(;|$)` marks valueless presence (Flag, or null for typed
    fields) — then the shared typed promotion."""
    import re as _re

    import pyarrow.compute as pc

    want = set(info_names)
    defs = [d for d in header.infos if d.name in want]
    arrays, names = [], []
    for d in defs:
        nm = _re.escape(d.name)
        # greedy `.*;` prefix → the LAST occurrence wins, matching the
        # reference parser's dict-overwrite on (out-of-spec) repeated keys
        ext = pc.extract_regex(col, f"^(?:.*;)?{nm}=(?P<v>[^;]*)")
        # struct_field (not .field()) so non-matching rows' struct-level
        # nulls propagate into the value column
        val = pc.struct_field(ext, "v")
        if d.is_flag:
            present = pc.match_substring_regex(col, f"(?:^|;){nm}(?:[=;]|$)")
            typed = pc.if_else(present, pa.scalar(True),
                               pa.scalar(None, pa.bool_()))
        else:
            typed = _typed_field(val, d)
            if typed is None:
                return None
        arrays.append(typed)
        names.append(d.name)
    return pa.StructArray.from_arrays(arrays, names=names)


def _gt_struct(col: "pa.Array") -> "pa.StructArray":
    """GT text column → struct<allele list<int>, phased list<bool>>,
    vectorized mirror of `parse_gt`: a leading '|'/'/' sets the first
    phase flag and is consumed; remaining separators phase the allele
    they precede; '.' alleles are null."""
    import numpy as np
    import pyarrow.compute as pc

    null_mask = pc.or_kleene(pc.is_null(col), pc.is_in(col, value_set=pa.array(["", "."])))
    null_mask = pc.fill_null(null_mask, True)
    # normalize: rows that are null decode as '.' placeholders so kernels
    # stay total; masked out of the final struct
    s = pc.if_else(null_mask, pa.scalar("0"), col)
    if isinstance(s, pa.ChunkedArray):
        s = s.combine_chunks()
    first_phased = pc.starts_with(s, pattern="|")
    lead = pc.match_substring_regex(s, r"^[|/]")
    body = pc.if_else(lead, pc.utf8_slice_codeunits(s, start=1), s)
    if isinstance(body, pa.ChunkedArray):
        body = body.combine_chunks()
    alleles_txt = pc.split_pattern_regex(body, r"[|/]")
    if isinstance(alleles_txt, pa.ChunkedArray):
        alleles_txt = alleles_txt.combine_chunks()
    flat = _null_if(alleles_txt.values, ".", "")
    flat_int = _checked_cast(flat, "Integer")
    if flat_int is None:
        raise pa.ArrowInvalid("non-numeric GT allele")  # caller falls back
    allele = pa.ListArray.from_arrays(alleles_txt.offsets,
                                      flat_int.cast(pa.int32()))
    # phased flags: first flag + one per separator char in the body. The
    # separator string's UTF-8 data buffer IS the per-row separator runs
    # concatenated in row order — one numpy view, no per-row Python.
    seps = pc.replace_substring_regex(body, r"[^|/]", "")
    if isinstance(seps, pa.ChunkedArray):
        seps = seps.combine_chunks()
    sep_counts = pc.utf8_length(seps).to_numpy(zero_copy_only=False).astype(np.int64)
    s_offs = np.frombuffer(seps.buffers()[1], np.int32)[
        seps.offset:seps.offset + len(seps) + 1
    ]
    sep_bytes = (
        np.frombuffer(seps.buffers()[2], dtype=np.uint8)[
            int(s_offs[0]):int(s_offs[-1])
        ]
        if int(sep_counts.sum()) else np.empty(0, np.uint8)
    )
    n = len(col)
    new_counts = sep_counts + 1
    new_offsets = np.concatenate(([0], np.cumsum(new_counts)))
    vals = np.zeros(int(new_offsets[-1]), dtype=bool)
    vals[new_offsets[:-1]] = pc.fill_null(first_phased, False).to_numpy(
        zero_copy_only=False
    )
    if len(sep_bytes):
        tgt = (np.arange(len(sep_bytes))
               + np.repeat(new_offsets[:-1] + 1 - np.concatenate(
                   ([0], np.cumsum(sep_counts)))[:-1], sep_counts))
        vals[tgt] = sep_bytes == ord("|")
    phased = pa.ListArray.from_arrays(
        pa.array(new_offsets, pa.int32()), pa.array(vals)
    )
    return pa.StructArray.from_arrays(
        [allele, phased], names=["allele", "phased"],
        mask=null_mask.combine_chunks()
        if isinstance(null_mask, pa.ChunkedArray) else null_mask,
    )


def _genotype_columns(raw, header: VcfHeader, samples: tuple[str, ...],
                      gt_names: tuple[str, ...]):
    """FORMAT keys column + per-sample text columns → per-sample typed
    field arrays. The FORMAT column is dictionary-encoded (a file has a
    handful of distinct layouts); each wanted field's slot index per row
    comes from the (tiny) dictionary, and one numpy gather per
    (sample, field) pulls the subfield strings out of the ':'-split flat
    values — no Python per row. Returns ({sample: {field: array}},
    defs in header order) or None to fall back."""
    import numpy as np
    import pyarrow.compute as pc

    want = set(gt_names)
    gdefs = [d for d in header.formats if d.name in want]
    fmt = raw["c8"].combine_chunks()
    n = len(fmt)
    enc = pc.dictionary_encode(fmt)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    dict_vals = enc.dictionary.to_pylist()
    indices = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    # slot index of each wanted field under each distinct FORMAT layout
    slot_of = {}
    split_layouts = [fk.split(":") if fk else [] for fk in dict_vals]
    for d in gdefs:
        # last index on repeated keys — dict(zip(keys, vals)) overwrite
        per_layout = np.array(
            [(len(ks) - 1 - ks[::-1].index(d.name)) if d.name in ks else -1
             for ks in split_layouts],
            dtype=np.int64,
        )
        slot_of[d.name] = per_layout[indices]
    sample_pos = {s: i for i, s in enumerate(header.samples)}
    out: dict[str, dict[str, pa.Array]] = {}
    for s in samples:
        scol = raw[f"c{9 + sample_pos[s]}"].combine_chunks()
        lists = pc.split_pattern(scol, ":")
        if isinstance(lists, pa.ChunkedArray):
            lists = lists.combine_chunks()
        offsets = lists.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        counts = np.diff(offsets)
        flat = lists.values
        fields: dict[str, pa.Array] = {}
        for d in gdefs:
            k = slot_of[d.name]
            valid = (k >= 0) & (k < counts)
            idx = np.where(valid, offsets[:-1] + k, 0)
            gathered = flat.take(pa.array(idx, pa.int64()))
            gathered = pc.if_else(pa.array(valid), gathered,
                                  pa.scalar(None, pa.string()))
            if d.name == "GT":
                fields[d.name] = _gt_struct(gathered)
            else:
                typed = _typed_field(gathered, d)
                if typed is None:
                    return None
                fields[d.name] = typed
        out[s] = fields
    return out, gdefs


def _null_if(col: "pa.Array", *sentinels: str) -> "pa.Array":
    import pyarrow.compute as pc

    mask = None
    for s in sentinels:
        m = pc.equal(col, s)
        mask = m if mask is None else pc.or_(mask, m)
    return pc.if_else(mask, pa.scalar(None, col.type), col)


def _split_semantic(col, sep: str, empty: tuple[str, ...] = (),
                    null: tuple[str, ...] = ()) -> "pa.ListArray":
    """``split_pattern`` with VCF sentinel semantics: values in ``empty``
    become [] and values in ``null`` become null lists. The list is
    rebuilt from (filtered values, recomputed offsets) with numpy — all
    batch-level, no per-row Python."""
    import numpy as np
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lists = pc.split_pattern(col, sep)
    if isinstance(lists, pa.ChunkedArray):
        lists = lists.combine_chunks()

    def mask_of(vals) -> "np.ndarray":
        m = None
        for v in vals:
            e = pc.equal(col, v)
            m = e if m is None else pc.or_(m, e)
        if m is None:
            return np.zeros(len(col), dtype=bool)
        return pc.fill_null(m, False).to_numpy(zero_copy_only=False)

    m_empty = mask_of(empty)
    m_null = mask_of(null)
    kill = m_empty | m_null
    if not kill.any():
        return lists
    counts = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    counts = counts.astype(np.int64)
    new_counts = np.where(kill, 0, counts)
    values = lists.flatten().filter(pa.array(np.repeat(~kill, counts)))
    offsets = np.concatenate(([0], np.cumsum(new_counts))).astype(np.int32)
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), values,
        mask=pa.array(m_null) if m_null.any() else None,
    )


class VcfDataSource(TextFormatSource):
    NATIVE_CS = "11"

    @classmethod
    def name(cls) -> str:
        return "vcf"

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.writers import VcfWriter

        return VcfWriter(self.options, overwrite)

    def header(self) -> VcfHeader:
        lines = []
        with open_text(self._require_paths()[0]) as f:
            for line in f:
                if not line.startswith("#"):
                    break
                lines.append(line)
        return VcfHeader.parse(lines)

    @staticmethod
    def _subset(defs: list[VcfFieldDef], opt: str | None) -> list[str] | None:
        """None result → column family dropped entirely."""
        if opt is None or opt.strip() == "*":
            return [d.name for d in defs]
        if opt.strip() == "":
            return None
        known = {d.name for d in defs}
        out = []
        for nm in opt.split(","):
            nm = nm.strip()
            if nm not in known:
                raise ValueError(f"unknown VCF field {nm!r}; available: {sorted(known)}")
            out.append(nm)
        return out

    def _codec(self) -> VcfCodec:
        hdr = self.header()
        names = select_fields(STANDARD_FIELD_NAMES, self.options.get("fields"))
        row = [T.StructField(nm, t, True) for nm, t in STANDARD_FIELDS]

        info_names = self._subset(hdr.infos, self.options.get("info_fields"))
        if info_names is not None:
            row.append(T.StructField("info", hdr.info_struct(info_names), True))
            names = names + ["info"]

        gt_names = self._subset(hdr.formats, self.options.get("genotype_fields"))
        samples = tuple(
            s.strip() for s in self.options.get("samples", "").split(",") if s.strip()
        ) or tuple(hdr.samples)
        unknown = set(samples) - set(hdr.samples)
        if unknown:
            raise ValueError(f"unknown samples {sorted(unknown)}; header has {hdr.samples}")
        genotype_by = self.options.get("genotype_by", "sample")
        nested = self.options.get("samples_nested", "false").lower() == "true"
        if gt_names is not None and (samples or genotype_by == "field"):
            if genotype_by == "sample":
                gcols = [
                    T.StructField(s, hdr.genotype_struct(gt_names), True) for s in samples
                ]
            else:
                gdefs = [d for d in hdr.formats if d.name in set(gt_names)]
                gcols = [
                    T.StructField(
                        d.name,
                        T.StructType([
                            T.StructField(s, d.spark_type(gt_special=True), True)
                            for s in samples
                        ]),
                        True,
                    )
                    for d in gdefs
                ]
            if nested:
                row.append(T.StructField("samples", T.StructType(gcols), True))
                names = names + ["samples"]
            else:
                row.extend(gcols)
                names = names + [f.name for f in gcols]
        else:
            gt_names = None

        return VcfCodec(
            **project(row, names),
            header=hdr,
            info_names=tuple(info_names) if info_names is not None else None,
            gt_names=tuple(gt_names) if gt_names is not None else None,
            samples=samples,
            genotype_by=genotype_by,
            samples_nested=nested,
            start_field_indexes=(1,),
            coord_col_names=("chrom", "pos"),
            meta_anywhere=False,
            meta_prefixes=("#",),
        )
