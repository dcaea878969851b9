"""GTF / GFF3 DataSources: ``spark.read.format("gtf" | "gff")``.

Parity: reference GXF scanners (`oxbow/src/gxf/scanner/gtf.rs:155-166`,
`gff.rs`, SURVEY S9) with opt-in attribute struct discovery
(`gxf/scanner/gtf.rs:117-151`; opt-in policy
`docs/getting-started/quickstart.md:186-189`). Options:

- ``fields``: projection over the 8 standard fields
- ``attributes``: 'scan' | 'scan:N' → driver-side sampling of attribute
  defs from the first N (default 1024) records; omitted → no
  ``attributes`` column (matches the reference default)
- ``attribute_defs``: explicit ``name`` or ``name:array`` comma list
- ``coords``: '11' (native) | '01' — shifts ``start`` by −1
- ``regions``, ``batch_size``, ``limit``, ``partition_bytes``
"""

from __future__ import annotations

from dataclasses import dataclass, field as dfield

import pyarrow as pa
from pyspark.sql import types as T

from oxbow_spark.models.gxf import (
    STANDARD_FIELD_NAMES,
    STANDARD_FIELDS,
    AttributeDef,
    attributes_struct,
    parse_attributes,
    scan_attribute_defs,
)
from oxbow_spark.sources.base import (
    Codec,
    TextFormatSource,
    open_text,
    project,
    select_fields,
)


def _parse_std(cols: list[str]) -> list:
    return [
        None if cols[0] == "." else cols[0],
        None if cols[1] == "." else cols[1],
        None if cols[2] == "." else cols[2],
        int(cols[3]),
        int(cols[4]),
        None if cols[5] == "." else float(cols[5]),
        None if cols[6] == "" else cols[6],
        None if cols[7] == "." else int(cols[7]),
    ]


@dataclass
class GxfCodec(Codec):
    flavor: str = "gtf"
    attr_defs: tuple[AttributeDef, ...] = ()
    with_attrs: bool = False

    def parse_line(self, line: str) -> list | None:
        cols = line.split("\t")
        if len(cols) < 8:
            raise ValueError(f"malformed {self.flavor.upper()} line: {line[:80]!r}")
        row = _parse_std(cols)
        if self.with_attrs:
            raw = cols[8] if len(cols) > 8 else ""
            attrs = parse_attributes(raw, self.flavor)
            row.append({
                d.name: (
                    attrs.get(d.name) if d.is_array
                    else (attrs[d.name][0] if d.name in attrs else None)
                )
                for d in self.attr_defs
            })
        return row

    def table_interval(self, table: "pa.Table"):
        import pyarrow.compute as pc

        return table["seqid"], pc.subtract(table["start"], 1), table["end"]

    def parse_table(self, data: bytes) -> "pa.Table | None":
        """Vectorized partition parse (pyarrow.csv fast path, as BED/SAM/
        VCF): engaged for standard-8-column scans; attribute-struct scans
        fall back to the line loop (per-record typed parsing)."""
        import pyarrow.compute as pc
        import pyarrow.csv as pacsv

        from oxbow_spark.sources.vcf import _null_if

        if self.with_attrs:
            return None
        if data.startswith(b"#") or b"\n#" in data:
            data = b"\n".join(
                ln for ln in data.split(b"\n") if ln and not ln.startswith(b"#")
            )
        if not data.strip():
            types = [pa.string()] * 3 + [pa.int64()] * 2 + [
                pa.float64(), pa.string(), pa.int64()]
            return pa.table({
                nm: pa.array([], tp)
                for nm, tp in zip(STANDARD_FIELD_NAMES, types)
            })
        names = [f"c{i}" for i in range(9)]
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
                ),
            )
        except pa.ArrowInvalid:
            return None  # 8-column rows etc.: the line loop handles them
        try:
            c = {nm: raw[f"c{i}"].combine_chunks()
                 for i, nm in enumerate(STANDARD_FIELD_NAMES)}
            return pa.table({
                "seqid": _null_if(c["seqid"], "."),
                "source": _null_if(c["source"], "."),
                "type": _null_if(c["type"], "."),
                "start": c["start"].cast(pa.int64()),
                "end": c["end"].cast(pa.int64()),
                "score": _null_if(c["score"], ".").cast(pa.float64()),
                # the line parser nulls only EMPTY strand; '.' is kept
                "strand": pc.if_else(
                    pc.equal(c["strand"], ""),
                    pa.scalar(None, pa.string()), c["strand"],
                ),
                "frame": _null_if(c["frame"], ".").cast(pa.int64()),
            })
        except pa.ArrowInvalid:
            return None


class _GxfSource(TextFormatSource):
    NATIVE_CS = "11"
    FLAVOR = "gtf"

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.writers import GffWriter, GtfWriter

        cls = GtfWriter if self.FLAVOR == "gtf" else GffWriter
        return cls(self.options, overwrite)

    def _attr_defs(self) -> list[AttributeDef] | None:
        explicit = self.options.get("attribute_defs")
        if explicit:
            out = []
            for spec in explicit.split(","):
                nm, _, kind = spec.strip().partition(":")
                out.append(AttributeDef(nm, kind == "array"))
            return out
        scan = self.options.get("attributes")
        if not scan:
            return None
        n = int(scan.split(":")[1]) if ":" in scan else 1024
        lines: list[str] = []
        with open_text(self._require_paths()[0]) as f:
            for line in f:
                if line.startswith("#"):
                    continue
                lines.append(line)
                if len(lines) >= n:
                    break
        return scan_attribute_defs(lines, self.FLAVOR, n)

    def _codec(self) -> GxfCodec:
        names = select_fields(STANDARD_FIELD_NAMES, self.options.get("fields"))
        row = [T.StructField(nm, t, True) for nm, t in STANDARD_FIELDS]
        defs = self._attr_defs()
        if defs is not None:
            row.append(T.StructField("attributes", attributes_struct(defs), True))
            names = names + ["attributes"]
        return GxfCodec(
            **project(row, names),
            flavor=self.FLAVOR,
            attr_defs=tuple(defs or ()),
            with_attrs=defs is not None,
            start_field_indexes=(3,),
            coord_col_names=("seqid", "start"),
            meta_anywhere=True,
            meta_prefixes=("#",),
        )


class GtfDataSource(_GxfSource):
    FLAVOR = "gtf"

    @classmethod
    def name(cls) -> str:
        return "gtf"


class GffDataSource(_GxfSource):
    FLAVOR = "gff"

    @classmethod
    def name(cls) -> str:
        return "gff"
