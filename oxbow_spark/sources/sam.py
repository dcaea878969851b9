"""SAM DataSource: ``spark.read.format("sam")``.

Parity: reference SAM scanner (`oxbow/src/alignment/scanner/sam.rs`,
SURVEY S1) — 12 standard fields + opt-in ``tags`` struct
(`alignment/model.rs:59-125`). Options:

- ``fields``: projection over the standard fields
- ``tags``: 'scan' | 'scan:N' — driver-side tag-def sampling
  (``tag_defs(scan_rows)``, `alignment/scanner/bam.rs:122-149`)
- ``tag_defs``: explicit ``NM:i,MD:Z,...`` comma list
- ``coords``: '11' (native) | '01' — shifts ``pos``/``pnext`` by −1
- ``regions`` (';'-separated; ``*`` selects unmapped reads, SURVEY F2),
  ``batch_size``, ``limit``, ``partition_bytes``

Missing-value semantics: ``*`` → null for qname/rname/rnext/cigar/seq/
qual; pos/pnext 0 → null; mapq 255 → null; ``rnext='='`` resolves to
rname; ``end`` is the computed 1-based inclusive alignment end
(pos + reference-consumed CIGAR − 1, `alignment/model/field.rs:280-286`).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import types as T

from oxbow_spark.models.sam_header import (
    STANDARD_FIELD_NAMES,
    STANDARD_FIELDS,
    SamHeader,
    TagDef,
    alignment_end,
    scan_tag_defs,
    split_sam_tag,
    tags_struct,
)
from oxbow_spark.sources.base import (
    Codec,
    TextFormatSource,
    open_text,
    project,
    select_fields,
)


@dataclass
class SamCodec(Codec):
    tag_defs: tuple[TagDef, ...] = ()
    with_tags: bool = False

    def parse_line(self, line: str) -> list | None:
        c = line.split("\t")
        if len(c) < 11:
            raise ValueError(f"malformed SAM line: {line[:80]!r}")
        pos = int(c[3])
        mapq = int(c[4])
        rname = None if c[2] == "*" else c[2]
        cigar = None if c[5] == "*" else c[5]
        pos_v = None if pos == 0 else pos
        row = [
            None if c[0] == "*" else c[0],
            int(c[1]),
            rname,
            pos_v,
            None if mapq == 255 else mapq,
            cigar,
            rname if c[6] == "=" else (None if c[6] == "*" else c[6]),
            None if c[7] == "0" else int(c[7]),
            int(c[8]),
            None if c[9] == "*" else c[9],
            None if c[10] == "*" else c[10],
            alignment_end(pos_v, cigar),
        ]
        if self.with_tags:
            vals: dict = {}
            for f in c[11:]:
                try:
                    name, code, raw = split_sam_tag(f)
                except ValueError:
                    continue
                vals[name] = (code, raw)
            row.append({
                d.name: (d.parse(*vals[d.name]) if d.name in vals else None)
                for d in self.tag_defs
            })
        return row

    def table_interval(self, table: "pa.Table"):
        """(chrom, start0, end0) for the region mask: rname is null for
        unmapped (matched only by region '*'); end0 is the 1-based
        inclusive `end` (≡ 0-based exclusive)."""
        import pyarrow.compute as pc

        return table["rname"], pc.subtract(table["pos"], 1), table["end"]

    def parse_table(self, data: bytes) -> "pa.Table | None":
        """Vectorized partition parse: the whole partition reads as one
        line column (pyarrow.csv with a never-occurring delimiter), tab
        splitting and every sentinel transform run as arrow kernels, and
        the computed ``end`` column is one C-regex pass per CIGAR (the
        only per-record step — the 11 mandatory columns never touch
        Python). Tag scans fall back to the line loop (ragged tail)."""
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.csv as pacsv

        if self.with_tags:
            return None
        if data.startswith(b"@") or b"\n@" in data:
            data = b"\n".join(
                ln for ln in data.split(b"\n") if ln and not ln.startswith(b"@")
            )
        if not data.strip():
            types = [
                pa.string(), pa.int64(), pa.string(), pa.int64(), pa.int64(),
                pa.string(), pa.string(), pa.int64(), pa.int64(), pa.string(),
                pa.string(), pa.int64(),
            ]
            return pa.table({
                nm: pa.array([], tp)
                for nm, tp in zip(STANDARD_FIELD_NAMES, types)
            })
        try:
            raw = pacsv.read_csv(
                pa.BufferReader(data),
                read_options=pacsv.ReadOptions(
                    column_names=["line"], block_size=1 << 24
                ),
                parse_options=pacsv.ParseOptions(
                    delimiter="\x01", quote_char=False, escape_char=False,
                ),
                convert_options=pacsv.ConvertOptions(
                    column_types={"line": pa.string()},
                ),
            )
        except pa.ArrowInvalid:
            return None
        fields = pc.split_pattern(raw["line"].combine_chunks(), "\t")
        if isinstance(fields, pa.ChunkedArray):
            fields = fields.combine_chunks()
        lens = pc.list_value_length(fields)
        if len(fields) and pc.min(lens).as_py() < 11:
            return None  # malformed short line: the loop raises the error

        def el(i: int) -> "pa.Array":
            return pc.list_element(fields, i)

        try:
            star = pa.scalar(None, pa.string())
            rname = pc.if_else(pc.equal(el(2), "*"), star, el(2))
            pos_raw = el(3).cast(pa.int64())
            pos = pc.if_else(pc.equal(pos_raw, 0), pa.scalar(None, pa.int64()),
                             pos_raw)
            mapq = el(4).cast(pa.int64())
            cigar = pc.if_else(pc.equal(el(5), "*"), star, el(5))
            rn6 = el(6)
            rnext = pc.if_else(
                pc.equal(rn6, "="), rname,
                pc.if_else(pc.equal(rn6, "*"), star, rn6),
            )
            pnext_raw = el(7).cast(pa.int64())
            # the computed end: fully vectorized CIGAR reference-length
            # (digit place values + add.reduceat — no per-record Python)
            reflen = _cigar_reflens_np(pc.fill_null(cigar, "").combine_chunks()
                                       if isinstance(cigar, pa.ChunkedArray)
                                       else pc.fill_null(cigar, ""))
            pos_np = pos.to_numpy(zero_copy_only=False)
            with np.errstate(invalid="ignore"):
                end_vals = pos_np + reflen - 1
            end_null = np.isnan(pos_np) | (reflen == 0)
            ends = pa.array(
                np.where(end_null, 0, end_vals).astype(np.int64),
                pa.int64(), mask=end_null,
            )
            return pa.table({
                "qname": pc.if_else(pc.equal(el(0), "*"), star, el(0)),
                "flag": el(1).cast(pa.int64()),
                "rname": rname,
                "pos": pos,
                "mapq": pc.if_else(pc.equal(mapq, 255),
                                   pa.scalar(None, pa.int64()), mapq),
                "cigar": cigar,
                "rnext": rnext,
                "pnext": pc.if_else(pc.equal(pnext_raw, 0),
                                    pa.scalar(None, pa.int64()), pnext_raw),
                "tlen": el(8).cast(pa.int64()),
                "seq": pc.if_else(pc.equal(el(9), "*"), star, el(9)),
                "qual": pc.if_else(pc.equal(el(10), "*"), star, el(10)),
                "end": ends,
            })
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None


def _cigar_reflens_np(ca: "pa.StringArray"):
    """Reference-consumed CIGAR lengths for a whole utf8 column at once.

    Works on the raw Arrow buffers: digit bytes get place values from
    their distance to the terminating op char (one repeat + one power
    table), per-op numbers come from one ``add.reduceat`` over the digit
    contributions, and per-record sums of the MDN=X ops from one
    ``bincount``. Nulls must be pre-filled with "" (reflen 0)."""
    import numpy as np

    n = len(ca)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    off = np.frombuffer(ca.buffers()[1], np.int32)[
        ca.offset: ca.offset + n + 1].astype(np.int64)
    base = off[0]
    valbuf = ca.buffers()[2]
    arr = (np.frombuffer(valbuf, np.uint8)[base:off[-1]]
           if valbuf is not None else np.zeros(0, np.uint8))
    off = off - base
    if arr.size == 0:
        return np.zeros(n, dtype=np.int64)
    isd = (arr >= 48) & (arr <= 57)
    nd = np.flatnonzero(~isd)  # op-char positions
    if nd.size == 0:
        return np.zeros(n, dtype=np.int64)
    prev = np.concatenate(([-1], nd[:-1]))
    next_op = np.repeat(nd, nd - prev)  # covers positions 0..nd[-1]
    m = next_op.size
    place = next_op - np.arange(m) - 1
    contrib = np.where(
        isd[:m],
        (arr[:m].astype(np.int64) - 48) * 10 ** np.clip(place, 0, 18),
        0,
    )
    op_vals = np.add.reduceat(contrib, prev + 1)
    ops = arr[nd]
    consume = ((ops == 77) | (ops == 68) | (ops == 78)
               | (ops == 61) | (ops == 88))  # M D N = X
    rec = np.searchsorted(off[1:], nd, side="right")
    return np.bincount(
        rec[consume], weights=op_vals[consume].astype(np.float64), minlength=n,
    ).astype(np.int64)


class SamDataSource(TextFormatSource):
    NATIVE_CS = "11"

    @classmethod
    def name(cls) -> str:
        return "sam"

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.align_write import SamWriter

        return SamWriter(self.options, overwrite)

    def header(self) -> SamHeader:
        lines = []
        with open_text(self._require_paths()[0]) as f:
            for line in f:
                if not line.startswith("@"):
                    break
                lines.append(line)
        return SamHeader.parse(lines)

    def _tag_defs(self) -> list[TagDef] | None:
        explicit = self.options.get("tag_defs")
        if explicit:
            return [
                TagDef(*spec.strip().split(":", 1)) for spec in explicit.split(",")
            ]
        scan = self.options.get("tags")
        if not scan:
            return None
        n = int(scan.split(":")[1]) if ":" in scan else 1024
        recs: list[str] = []
        with open_text(self._require_paths()[0]) as f:
            for line in f:
                if line.startswith("@"):
                    continue
                recs.append(line)
                if len(recs) >= n:
                    break
        return scan_tag_defs(recs, n)

    def _codec(self) -> SamCodec:
        names = select_fields(STANDARD_FIELD_NAMES, self.options.get("fields"))
        row = [T.StructField(nm, t, True) for nm, t in STANDARD_FIELDS]
        defs = self._tag_defs()
        if defs is not None:
            row.append(T.StructField("tags", tags_struct(defs), True))
            names = names + ["tags"]
        return SamCodec(
            **project(row, names),
            tag_defs=tuple(defs or ()),
            with_tags=defs is not None,
            start_field_indexes=(3, 7),  # pos, pnext
            coord_col_names=("rname", "pos"),
            meta_anywhere=False,
            meta_prefixes=("@",),
        )
