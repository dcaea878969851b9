"""Generic text-format Python DataSource framework.

Mirrors the reference scan architecture (SURVEY §2.1/§2.6) in Spark's
Python DataSource API (Spark 4.x):

- schema is declared at construction (driver-side header read / sampling);
- projection is validated at construction (``fields`` option ≙ the
  reference's ``Select``; unknown column → error, `Model::project`);
- partitions are pure descriptions ``(path, byte_start, byte_end)`` — a
  partition read is a replayable pure function of (path, options, range),
  matching the reference's fragment discipline (D5/D6);
- uncompressed files split at arbitrary byte offsets and realign to the
  next newline (Hadoop LineRecordReader discipline; ≙ scan_byte_ranges,
  `oxbow/src/util/query.rs:137-214`); tabix-indexed BGZF files split at
  index-planned virtual-position ranges (``bgzf.plan_ranges``); other
  gzip files are one partition each;
- genomic-range predicates (``regions`` option) mask each parsed table
  with the one vectorized ``coords.region_mask``
  (`batch_iterator/query.rs:142-159`);
- rows are emitted as Arrow RecordBatches (columnar, ``batch_size`` rows).

Each concrete format supplies a picklable ``Codec`` with the per-line
parse (and optionally a whole-partition ``parse_table``), the records'
genomic interval columns, and coordinate-offset columns; everything else
is shared.
"""

from __future__ import annotations

import gzip
import io
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql import types as T

from oxbow_spark import coords as _coords

from oxbow_spark.sources import fsio

DEFAULT_BATCH_SIZE = 65536
DEFAULT_PARTITION_BYTES = 128 * 1024 * 1024


def resolve_paths(path: str) -> list[str]:
    """Directory / glob / URL expansion (remote via fsio when fsspec is
    installed)."""
    return fsio.expand(path)


def is_gzip_path(path: str) -> bool:
    return path.endswith((".gz", ".bgz", ".bgzf"))


def open_text(path: str) -> io.TextIOBase:
    if is_gzip_path(path):
        return io.TextIOWrapper(
            gzip.GzipFile(fileobj=fsio.open_binary(path)),
            encoding="utf-8", newline="\n",
        )
    return io.TextIOWrapper(fsio.open_binary(path), encoding="utf-8", newline="\n")


@dataclass
class Codec:
    """Picklable per-format parsing state shipped to executors.

    Subclasses define:
    - ``schema``: the output StructType (the selected columns) and
      ``row_schema``: the full row layout the parsers produce, with
      ``project_indexes`` into it (see :func:`project`)
    - ``parse_line(line) -> list | None`` (None → skip the line)
    - ``table_interval(table)`` when the records' interval is not BED's
      columns 0..2
    - ``start_field_indexes`` — columns shifted by the coords offset
    """

    schema: T.StructType = field(default=None)  # type: ignore[assignment]
    row_schema: T.StructType = field(default=None)  # type: ignore[assignment]
    coord_offset: int = 0
    start_field_indexes: tuple[int, ...] = ()  # indexes into the FULL row
    coord_col_names: tuple[str, str] | None = None  # (chrom col, start col)
    project_indexes: tuple[int, ...] | None = None  # None → identity
    meta_anywhere: bool = False  # comment lines legal anywhere (BED/GXF)
    meta_prefixes: tuple[str, ...] = ("#",)

    def is_meta(self, line: str) -> bool:
        return line.startswith(self.meta_prefixes)

    def parse_line(self, line: str) -> list | None:  # pragma: no cover
        raise NotImplementedError

    def table_interval(self, table: "pa.Table"):
        """(chrom, start0, end0) columns of a table of full rows, 0-based
        half-open in native coordinates, for `coords.region_mask`: BED's
        layout of columns 0..2 by default."""
        return table.column(0), table.column(1), table.column(2)


def project(row_fields: list[T.StructField], names: list[str]) -> dict:
    """A codec's ``schema``, ``row_schema`` and ``project_indexes`` for
    rows laid out as ``row_fields`` and the output columns ``names``."""
    layout = [f.name for f in row_fields]
    proj = tuple(layout.index(n) for n in names)
    return {
        "schema": T.StructType([row_fields[i] for i in proj]),
        "row_schema": T.StructType(row_fields),
        "project_indexes": None if proj == tuple(range(len(layout))) else proj,
    }


class GenomicStreamMixin:
    """Adds Structured Streaming support to a batch genomic DataSource:
    ``spark.readStream.format(<name>).load(<glob>)`` turns new files
    matching the glob into micro-batch input (see
    `oxbow_spark/streaming/source.py` for offset/planning semantics).
    The glob should match the data files only (e.g. ``/runs/*.bam``) so
    index sidecars don't enter the stream."""

    def streamReader(self, schema):
        from oxbow_spark.streaming.source import GenomicFileStreamReader

        return GenomicFileStreamReader(type(self), self.options, schema)

    def streamWriter(self, schema, overwrite: bool):
        """Streaming sink twin of the batch `writer()` (formats that have
        one): micro-batches append self-contained part files."""
        from oxbow_spark.streaming.source import StreamSinkAdapter

        return StreamSinkAdapter(self.writer(schema, False))

    def _find_paths(self) -> list[str]:
        """The files the ``path`` option matches; none when it names a
        write target that does not exist yet (a read then fails in
        ``_require_paths``)."""
        try:
            return resolve_paths(self.options.get("path"))
        except FileNotFoundError:
            return []

    def _require_paths(self) -> list[str]:
        """The input files, for any read: header, tag or attribute scan,
        index metadata or the scan itself."""
        if not self.paths:
            raise FileNotFoundError(
                f"no files match {self.options.get('path')!r} (reading "
                "requires existing input; for writes this path is the "
                "target directory)")
        return self.paths


class LinePartition(InputPartition):
    def __init__(self, path: str, start: int = -1, end: int = -1, vpos: bool = False):
        self.path = path
        self.start = start  # -1 → whole file; else byte offset (or vpos)
        self.end = end
        self.vpos = vpos    # True → start/end are BGZF virtual positions


def _owned_lines(blocks) -> bytes:
    """The bytes of the lines that start before the range's end, from
    ``(data, owned)`` blocks (`bgzf.BgzfReader.blocks`): through the
    newline of the last of them."""
    buf = bytearray()
    end = None
    for data, owned in blocks:
        if end is None and owned is not None:
            end = len(buf) + owned
        buf += data
        if end == 0:
            return b""
        if end is not None:
            nl = buf.find(b"\n", end - 1)
            if nl >= 0:
                return bytes(memoryview(buf)[:nl + 1])
    return bytes(buf)


class TextFormatReader(DataSourceReader):
    def __init__(self, codec: Codec, paths: list[str], options: dict):
        self.codec = codec
        self.paths = paths
        self.batch_size = int(options.get("batch_size", DEFAULT_BATCH_SIZE))
        self.limit = int(options.get("limit", -1))
        self.partition_bytes = int(options.get("partition_bytes", DEFAULT_PARTITION_BYTES))
        native = options.get("native_cs", "11")
        self.native_cs = native
        self.regions = _coords.merge_regions(_coords.parse_regions(
            options.get("regions"), options.get("region_cs", native)
        ))
        self.index_path = options.get("index")
        self._arrow_schema = to_arrow_schema(codec.schema)
        self._row_schema = to_arrow_schema(codec.row_schema)

    def partitions(self):
        from oxbow_spark.sources.bgzf import is_bgzf, open_index, plan_ranges

        parts: list[LinePartition] = []
        for p in self.paths:
            size = fsio.getsize(p)
            index = names = None
            if is_gzip_path(p) and is_bgzf(p):
                # tabix-indexed BGZF: .tbi, or .csi with tabix aux names
                index, names = open_index(self.index_path, (p + ".tbi", p + ".csi"))
            if names:
                parts.extend(LinePartition(p, vs, ve, vpos=True) for vs, ve in plan_ranges(
                    index, names, self.regions, self.partition_bytes, 0, size))
            elif is_gzip_path(p) or size <= self.partition_bytes:
                parts.append(LinePartition(p))
            else:
                # Ranges are (start, end] with end = next split's start so a
                # line beginning exactly on a boundary is owned by the
                # earlier split (pos <= end) and correctly discarded by the
                # later split's realign — an exclusive end-1 here silently
                # drops boundary-start lines.
                off = 0
                while off < size:
                    parts.append(LinePartition(p, off, min(off + self.partition_bytes, size)))
                    off += self.partition_bytes
        # Spark requires ≥1 partition (a region with no index hits is valid)
        return parts or [LinePartition(self.paths[0], 0, 0, vpos=True)]

    # NOTE: this base class must NOT define pushFilters() — Spark refuses
    # to plan readers that do when spark.sql.python.filterPushdown.enabled
    # is off. PushdownTextFormatReader adds it, and the source factory
    # only instantiates that subclass under an enabled session.

    def _partition_bytes(self, partition: LinePartition) -> bytes:
        """Raw bytes of the lines this partition owns. A vpos partition
        owns the lines that start in its virtual-position range. A byte
        range owns the lines that start in (start, end], and the range at
        offset 0 the first line too (Hadoop line-split discipline): it
        drops the partial line at ``start`` and reads past ``end`` to
        finish its last line."""
        if partition.vpos:
            from oxbow_spark.sources.bgzf import BgzfReader

            with BgzfReader(partition.path) as r:
                return _owned_lines(r.blocks(partition.start, partition.end))
        if partition.start < 0:
            raw = fsio.open_binary(partition.path)
            if is_gzip_path(partition.path):
                with gzip.GzipFile(fileobj=raw) as f:
                    return f.read()
            with raw:
                return raw.read()
        with fsio.open_binary(partition.path) as f:
            f.seek(partition.start)
            if partition.start > 0:
                f.readline()
            pos = f.tell()
            if pos > partition.end:
                return b""
            data = f.read(partition.end - pos + 1)
            if data and not data.endswith(b"\n"):
                data += f.readline()
            return data

    def _line_tables(self, data: bytes, at_top: bool):
        """The per-line parse, for codecs without ``parse_table`` or input
        it hands over: tables of ``batch_size`` full rows in native
        coordinates, the layout ``parse_table`` returns."""
        codec = self.codec
        schema = self._row_schema

        def table(rows: list[list]) -> "pa.Table":
            return pa.Table.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(zip(*rows), schema)],
                schema=schema)

        rows: list[list] = []
        for line in data.decode("utf-8").split("\n"):
            if not line:
                continue
            if codec.meta_anywhere or at_top:
                if codec.is_meta(line):
                    continue
                at_top = False
            row = codec.parse_line(line)
            if row is None:
                continue
            rows.append(row)
            if len(rows) == self.batch_size:
                yield table(rows)
                rows = []
        if rows:
            yield table(rows)

    def _select(self, table: "pa.Table", limit: int) -> "pa.Table":
        """Mask a table of full native rows by the regions, then shift its
        starts, project it and cut it at ``limit`` (< 0: no limit)."""
        codec = self.codec
        names = table.column_names
        if self.regions:
            table = table.filter(_coords.region_mask(
                self.regions, *codec.table_interval(table)))
        if codec.coord_offset:
            for i in codec.start_field_indexes:
                table = table.set_column(
                    i, names[i], pc.add(table[names[i]], codec.coord_offset))
        if codec.project_indexes is not None:
            table = table.select(list(codec.project_indexes))
        return table.slice(0, limit) if limit >= 0 else table

    def read(self, partition: LinePartition):
        codec = self.codec
        data = self._partition_bytes(partition)
        parse_table = getattr(codec, "parse_table", None)
        table = parse_table(data) if parse_table is not None else None
        tables = ([table] if table is not None
                  else self._line_tables(data, partition.start <= 0))
        schema = self._arrow_schema
        remaining = self.limit
        for table in tables:
            table = self._select(table, remaining)
            cols = [table[f.name].combine_chunks().cast(f.type) for f in schema]
            for lo in range(0, len(table), self.batch_size):
                yield pa.RecordBatch.from_arrays(
                    [c.slice(lo, self.batch_size) for c in cols], schema=schema)
            if remaining >= 0:
                remaining -= len(table)
                if remaining == 0:
                    return


class PushdownTextFormatReader(TextFormatReader):
    """TextFormatReader + automatic filter→region pushdown for codecs
    that declare their (chrom, start) output columns. Tabix-indexed
    BGZF inputs prune to index chunks; plain text is still masked by
    the region. Only planned on sessions with
    spark.sql.python.filterPushdown.enabled (see sources/pushdown.py)."""

    def pushFilters(self, filters):
        from oxbow_spark.sources.pushdown import region_from_filters

        cols = self.codec.coord_col_names
        if cols and not self.regions:
            reg = region_from_filters(
                filters, cols[0], cols[1],
                self.codec.coord_offset, self.native_cs,
            )
            if reg is not None:
                self.regions = [reg]
        return filters


class TextFormatSource(GenomicStreamMixin, DataSource):
    """Base DataSource; subclasses implement ``_codec()`` and ``name()``."""

    def __init__(self, options: dict):
        super().__init__(options)
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{self.name()} source requires a path")
        self.paths = self._find_paths()
        self._codec_cache: Codec | None = None

    # -- subclass hooks ----------------------------------------------------
    NATIVE_CS = "11"

    def _codec(self) -> Codec:  # pragma: no cover
        raise NotImplementedError

    # ---------------------------------------------------------------------
    def codec(self) -> Codec:
        if self._codec_cache is None:
            self._require_paths()
            c = self._codec()
            requested = self.options.get("coords", self.NATIVE_CS)
            c.coord_offset = _coords.start_offset(self.NATIVE_CS, requested)
            self._codec_cache = c
        return self._codec_cache

    def schema(self) -> T.StructType:
        return self.codec().schema

    def reader(self, schema: T.StructType) -> TextFormatReader:
        from oxbow_spark.sources.pushdown import pushdown_enabled

        opts = dict(self.options)
        opts["native_cs"] = self.NATIVE_CS
        cls = PushdownTextFormatReader if pushdown_enabled() else TextFormatReader
        return cls(self.codec(), self.paths, opts)


def select_fields(all_names: list[str], fields_opt: str | None) -> list[str]:
    """``fields`` option → projected column list (reference
    Select::{All,Some,Omit}, `oxbow/src/lib.rs:76-84`): ``*``/empty → All;
    names → Some; ``-``-prefixed names → Omit (keep everything else).
    Mixing omit and keep forms is an error; unknown name → error
    (`alignment/model.rs:169-206`)."""
    if not fields_opt or fields_opt.strip() in ("*", ""):
        return list(all_names)
    parts = [f.strip() for f in fields_opt.split(",") if f.strip()]
    omits = [p[1:].strip() for p in parts if p.startswith("-")]
    if omits:
        if len(omits) != len(parts):
            raise ValueError(
                f"fields must be all kept names or all '-'-prefixed omissions: {fields_opt!r}"
            )
        for f in omits:
            if f not in all_names:
                raise ValueError(f"unknown field {f!r}; available: {all_names}")
        return [n for n in all_names if n not in omits]
    out = []
    for f in parts:
        if f not in all_names:
            raise ValueError(f"unknown field {f!r}; available: {all_names}")
        out.append(f)
    return out
