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
- genomic-range predicates (``regions`` option) are applied as residual
  per-record overlap re-checks (`batch_iterator/query.rs:142-159`);
- rows are emitted as Arrow RecordBatches (columnar, ``batch_size`` rows).

Each concrete format supplies a picklable ``Codec`` with the per-line
parse, the record's genomic interval accessor, and coordinate-offset
columns; everything else is shared.
"""

from __future__ import annotations

import gzip
import io
import os
from dataclasses import dataclass, field

import pyarrow as pa
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
    - ``schema``: full StructType (all selected columns, post-projection)
    - ``parse_line(line) -> list | None`` (None → skip the line)
    - ``interval(row) -> (chrom, start0, end0) | None`` — 0-based
      half-open interval for region filtering (None → record passes)
    - ``start_field_indexes`` — columns shifted by the coords offset
    """

    schema: T.StructType = field(default=None)  # type: ignore[assignment]
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

    def interval(self, row: list):
        return None


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

    def _row_passes(self, row: list) -> bool:
        if not self.regions:
            return True
        iv = self.codec.interval(row)
        if iv is None:
            return True
        chrom, s0, e0 = iv
        for r in self.regions:
            if r.is_unmapped:
                if chrom is None:
                    return True
                continue
            if chrom == r.name and r.overlaps(s0, e0 if e0 is not None else s0 + 1):
                return True
        return False

    def _emit(self, rows: list[list]) -> pa.RecordBatch:
        cols = list(zip(*rows)) if rows else [[] for _ in self.codec.schema]
        arrays = [
            pa.array(list(c), type=f.type)
            for c, f in zip(cols, self._arrow_schema)
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=self._arrow_schema)

    # ---- vectorized fast path (codecs may implement parse_table) -------

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

    def _emit_fast(self, table: "pa.Table"):
        """Apply regions / coord offset / projection / limit to a
        full-column arrow table and emit RecordBatches — the vectorized
        twin of the per-line loop below (same ordering: residual region
        check in native coords BEFORE the offset shift)."""
        import pyarrow.compute as pc

        codec = self.codec
        names = table.column_names
        if self.regions:
            # (chrom, start0, end0) columns in NATIVE 0-based half-open
            # coords; codecs whose interval is derived (SAM/VCF) supply
            # `table_interval`, the default is the BED-style layout of
            # columns 0..2 with end defaulting to start+1
            ti = getattr(codec, "table_interval", None)
            if ti is not None:
                chrom_c, s0, e0 = ti(table)
            else:
                chrom_c, s0 = table[names[0]], table[names[1]]
                e0 = pc.coalesce(table[names[2]], pc.add(s0, 1))
            mask = None
            for r in self.regions:
                if r.is_unmapped:
                    m = pc.is_null(chrom_c)
                else:
                    m = pc.and_kleene(
                        pc.equal(chrom_c, r.name),
                        pc.greater(e0, r.start),
                    )
                    if r.end is not None:
                        m = pc.and_kleene(m, pc.less(s0, r.end))
                mask = m if mask is None else pc.or_kleene(mask, m)
            table = table.filter(pc.fill_null(mask, False))
        if codec.coord_offset:
            for i in codec.start_field_indexes:
                nm = names[i]
                table = table.set_column(
                    i, nm, pc.add(table[nm], codec.coord_offset)
                )
        if codec.project_indexes is not None:
            table = table.select([names[i] for i in codec.project_indexes])
        if self.limit >= 0:
            table = table.slice(0, self.limit)
        schema = self._arrow_schema
        total = len(table)
        if total == 0:
            return
        cols = [
            table[f.name].combine_chunks().cast(f.type) for f in schema
        ]
        for lo in range(0, total, self.batch_size):
            take = min(self.batch_size, total - lo)
            yield pa.RecordBatch.from_arrays(
                [c.slice(lo, take) for c in cols], schema=schema
            )

    def read(self, partition: LinePartition):
        codec = self.codec
        data = self._partition_bytes(partition)
        parse_table = getattr(codec, "parse_table", None)
        table = parse_table(data) if parse_table is not None else None
        if table is not None:
            yield from self._emit_fast(table)
            return
        off = codec.coord_offset
        starts = codec.start_field_indexes
        rows: list[list] = []
        n = 0
        at_top = partition.start <= 0
        for line in data.decode("utf-8").split("\n"):
            if not line:
                continue
            if codec.meta_anywhere or at_top:
                if codec.is_meta(line):
                    continue
                at_top = False
            row = codec.parse_line(line)
            if row is None or not self._row_passes(row):
                continue
            if off:
                for i in starts:
                    if row[i] is not None:
                        row[i] = row[i] + off
            if codec.project_indexes is not None:
                row = [row[i] for i in codec.project_indexes]
            rows.append(row)
            n += 1
            if len(rows) >= self.batch_size:
                yield self._emit(rows)
                rows = []
            if 0 <= self.limit <= n:
                break
        if rows:
            yield self._emit(rows)


class PushdownTextFormatReader(TextFormatReader):
    """TextFormatReader + automatic filter→region pushdown for codecs
    that declare their (chrom, start) output columns. Tabix-indexed
    BGZF inputs prune to index chunks; plain text still short-circuits
    the residual row check. Only planned on sessions with
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
