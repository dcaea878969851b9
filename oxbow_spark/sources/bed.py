"""BED / bedGraph DataSource: ``spark.read.format("bed")``.

Parity: reference BED scanner (`oxbow/src/bed/scanner/bed.rs`, schema
grammar `bed/model/schema.rs:66-215`, SURVEY S8). Options:

- ``bed_schema``: bed | bed{n} | bed{n}+{m} | bed{n}+ | bedgraph
  (default ``bed6``; bare ``bed`` ≡ bed6 as in the reference)
- ``fields``: comma list projecting columns (Select::Some; unknown → error)
- ``coords``: '01' (native) | '11' — shifts ``start``/``thickStart`` by +1
- ``regions``: ';'-separated region strings (UCSC/bracket); records are
  masked by ``coords.region_mask``
- ``batch_size``, ``limit``, ``partition_bytes``
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from oxbow_spark.models.bed_schema import STANDARD_FIELD_NAMES, BedSchema
from oxbow_spark.sources.base import Codec, TextFormatSource, project, select_fields

_META = ("#", "track", "browser")
_META_B = (b"#", b"track", b"browser")


def _excise_meta(data: bytes) -> bytes:
    """Drop comment/track/browser and empty lines (the fast-path twin of
    the per-line is_meta check; BED allows them anywhere)."""
    if not any(data.startswith(m) for m in _META_B) and b"\n#" not in data \
            and b"\ntrack" not in data and b"\nbrowser" not in data \
            and b"\n\n" not in data:
        return data
    return b"\n".join(
        ln for ln in data.split(b"\n")
        if ln and not ln.startswith(_META_B)
    )


def _null_if(col, *sentinels):
    import pyarrow.compute as pc

    mask = None
    for s in sentinels:
        m = pc.equal(col, s)
        mask = m if mask is None else pc.or_(mask, m)
    return pc.if_else(mask, pa.scalar(None, col.type), col)


@dataclass
class BedCodec(Codec):
    bed_schema: BedSchema = None  # type: ignore[assignment]

    def parse_line(self, line: str) -> list | None:
        return self.bed_schema.parse_line(line)

    def parse_table(self, data: bytes) -> "pa.Table | None":
        """Vectorized partition parse: pyarrow.csv (C++ TSV reader) +
        arrow compute kernels for the typed columns — no Python per line.
        Returns None to fall back to the line loop (bedN+ 'rest' schemas,
        or any csv-level surprise such as ragged extra columns, which the
        line parser tolerates)."""
        import pyarrow.compute as pc
        import pyarrow.csv as pacsv

        bs = self.bed_schema
        if bs.m is None:  # 'rest' column needs split-with-limit semantics
            return None
        names = bs.field_names
        data = _excise_meta(data)
        if not data:
            return to_arrow_schema(self.row_schema).empty_table()
        try:
            raw = pacsv.read_csv(
                pa.BufferReader(data),
                read_options=pacsv.ReadOptions(column_names=names),
                parse_options=pacsv.ParseOptions(
                    delimiter="\t", quote_char=False, escape_char=False,
                ),
                convert_options=pacsv.ConvertOptions(
                    column_types={nm: pa.string() for nm in names},
                ),
            )
        except pa.ArrowInvalid:
            return None
        cols = {}
        try:
            for nm in names[:bs.n]:
                c = raw[nm].combine_chunks()
                if nm in ("chrom", "name", "strand"):
                    cols[nm] = _null_if(c, "")
                elif nm == "itemRgb":
                    c = pc.if_else(pc.equal(c, "0"), pa.scalar("0,0,0"), c)
                    c = _null_if(c, ".", "")
                    cols[nm] = pc.split_pattern(c, ",").cast(pa.list_(pa.int16()))
                elif nm in ("blockSizes", "blockStarts"):
                    c = _null_if(pc.utf8_rtrim(c, ","), ".", "")
                    cols[nm] = pc.split_pattern(c, ",").cast(pa.list_(pa.int64()))
                else:  # start/end/thickStart/thickEnd/blockCount/score
                    cols[nm] = _null_if(c, ".", "").cast(pa.int64())
            for nm, tp in zip(bs.custom_names, bs.custom_types):
                c = raw[nm].combine_chunks()
                if isinstance(tp, T.DoubleType):  # bedgraph value
                    cols[nm] = _null_if(c, ".", "").cast(pa.float64())
                else:
                    cols[nm] = _null_if(c, "")
        except pa.ArrowInvalid:
            return None  # e.g. non-numeric garbage: line loop reports it
        return pa.table(cols)


class BedDataSource(TextFormatSource):
    NATIVE_CS = "01"

    @classmethod
    def name(cls) -> str:
        return "bed"

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.writers import BedWriter

        return BedWriter(self.options, overwrite)

    def _codec(self) -> BedCodec:
        bs = BedSchema.parse(self.options.get("bed_schema", "bed6"))
        names = select_fields(bs.field_names, self.options.get("fields"))
        start_idx = tuple(
            i for i, nm in enumerate(bs.field_names) if nm in ("start", "thickStart")
        )
        return BedCodec(
            **project(bs.to_struct().fields, names),
            bed_schema=bs,
            start_field_indexes=start_idx,
            coord_col_names=("chrom", "start"),
            meta_anywhere=True,
            meta_prefixes=_META,
        )
