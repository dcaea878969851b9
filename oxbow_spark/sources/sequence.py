"""FASTA / FASTQ DataSources: ``spark.read.format("fasta" | "fastq")``.

Parity: reference sequence scanners (`oxbow/src/sequence/scanner/fasta.rs`,
`fastq.rs`, SURVEY S6/S7; schemas `sequence/model/field.rs:7-36`).

- FASTA rows: (name, description, sequence); with a ``regions`` option the
  scan yields **one row per region** carrying the sliced subsequence
  (`sequence/scanner/batch_iterator/query.rs:57-85`), honoring a ``.fai``
  index for seeks when present.
- FASTQ rows: (name, description, sequence, quality); region queries are
  unsupported (reference raises, `py-oxbow/oxbow/_core/sequence.py:130-131`).

Multi-record text framing (records span lines) means these readers manage
their own record assembly rather than the line framework; FASTQ files are
partitioned by 4-line record counting only for plain (non-gz) files.
"""

from __future__ import annotations

import io
import os

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema

from oxbow_spark import coords as _coords
from oxbow_spark.sources.base import (
    DEFAULT_BATCH_SIZE,
    GenomicStreamMixin,
    open_text,
    select_fields,
)
from oxbow_spark.sources import fsio

FASTA_FIELDS = ["name", "description", "sequence"]
FASTQ_FIELDS = ["name", "description", "sequence", "quality"]


def _struct(names: list[str]) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType(), n != "name") for n in names])


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def iter_fasta(path: str):
    """Yield (name, description, sequence) per FASTA record."""
    name, desc, chunks = None, None, []
    with open_text(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if line.startswith(">"):
                if name is not None:
                    yield name, desc, "".join(chunks)
                head = line[1:]
                name, _, desc = head.partition(" ")
                desc = desc or None
                chunks = []
            elif line:
                chunks.append(line)
    if name is not None:
        yield name, desc, "".join(chunks)


def read_fai(path: str) -> dict[str, tuple[int, int, int, int]]:
    """.fai index: name → (length, offset, linebases, linewidth)."""
    out = {}
    with io.TextIOWrapper(fsio.open_binary(path), encoding="utf-8") as f:
        for line in f:
            c = line.rstrip("\n").split("\t")
            out[c[0]] = (int(c[1]), int(c[2]), int(c[3]), int(c[4]))
    return out


def _fai_byte_range(
    fai_entry: tuple[int, int, int, int], start0: int, end0: int | None
) -> tuple[int, int, int]:
    """(uncompressed byte lo, byte hi, sequence length) for a 0-based
    half-open slice of a .fai-indexed record."""
    length, offset, linebases, linewidth = fai_entry
    end0 = length if end0 is None else min(end0, length)
    start0 = min(start0, end0)

    def fpos(p: int) -> int:
        return offset + (p // linebases) * linewidth + (p % linebases)

    return fpos(start0), fpos(end0) + 1, end0 - start0


def faidx_fetch(path: str, fai: dict, name: str, start0: int, end0: int | None) -> str:
    """Indexed subsequence fetch (0-based half-open), seek-based like the
    reference's indexed query path."""
    lo, hi, n = _fai_byte_range(fai[name], start0, end0)
    with fsio.open_binary(path) as f:
        f.seek(lo)
        raw = f.read(hi - lo)
    return raw.decode("ascii").replace("\n", "").replace("\r", "")[:n]


def read_gzi(path: str) -> list[tuple[int, int]]:
    """bgzip .gzi index: (compressed offset, uncompressed offset) pairs,
    sorted, with the implicit (0, 0) entry prepended (format: u64 count
    then count x 2 u64, little-endian — bgzip(1) documentation)."""
    import struct

    with fsio.open_binary(path) as f:
        data = f.read()
    (n,) = struct.unpack_from("<Q", data, 0)
    return [(0, 0)] + [
        struct.unpack_from("<QQ", data, 8 + 16 * i) for i in range(n)
    ]


def bgzf_fetch_uncompressed(path: str, gzi: list[tuple[int, int]],
                            lo: int, hi: int) -> bytes:
    """Bytes [lo, hi) of the uncompressed stream of a BGZF file, seeking
    through the .gzi entries instead of inflating from the start — the
    random-access path the reference gets from noodles/bgzf for
    bgzip-compressed FASTA (fixture sample.fasta.gz.gzi)."""
    import bisect

    from oxbow_spark.sources.bgzf import BgzfReader

    i = bisect.bisect_right([u for _, u in gzi], lo) - 1
    coff, uoff = gzi[max(i, 0)]
    with BgzfReader(path) as r:
        r.seek_virtual(coff << 16)
        skip = lo - uoff
        while skip > 0:
            got = r.read(min(skip, 1 << 20))
            if not got:
                return b""
            skip -= len(got)
        return r.read(hi - lo)


def faidx_fetch_bgzf(path: str, gzi: list[tuple[int, int]], fai: dict,
                     name: str, start0: int, end0: int | None) -> str:
    """`faidx_fetch` over a bgzip-compressed FASTA: .fai gives the
    uncompressed byte range, .gzi gives random access to it."""
    lo, hi, n = _fai_byte_range(fai[name], start0, end0)
    raw = bgzf_fetch_uncompressed(path, gzi, lo, hi)
    return raw.decode("ascii").replace("\n", "").replace("\r", "")[:n]


class FastaReader(DataSourceReader):
    def __init__(self, paths, schema, names, regions, region_cs, batch_size,
                 limit, index_path=None, gzi_path=None):
        self.paths = paths
        self.spark_schema = schema
        self.names = names
        self.regions = regions
        self.region_cs = region_cs
        self.batch_size = batch_size
        self.limit = limit
        self.index_path = index_path
        self.gzi_path = gzi_path
        self._arrow_schema = to_arrow_schema(schema)

    def partitions(self):
        return [_FilePartition(p) for p in self.paths]

    def _emit(self, rows):
        cols = list(zip(*rows)) if rows else [[] for _ in self.names]
        arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, self._arrow_schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=self._arrow_schema)

    def _project(self, name, desc, seq):
        full = {"name": name, "description": desc, "sequence": seq}
        return [full[n] for n in self.names]

    def read(self, partition: _FilePartition):
        path = partition.path
        rows, n = [], 0
        if self.regions:
            regions = _coords.parse_regions(self.regions, self.region_cs)
            # explicit `index`/`gzi` options (reference parity) override
            # sidecar discovery
            fai_path = self.index_path or path + ".fai"
            gzi_path = self.gzi_path or path + ".gzi"
            compressed = path.endswith((".gz", ".bgz"))
            if fsio.exists(fai_path) and not compressed:
                fai = read_fai(fai_path)
                for r in regions:
                    if r.name not in fai:
                        raise ValueError(f"unknown sequence {r.name!r} in FASTA index")
                    seq = faidx_fetch(path, fai, r.name, r.start, r.end)
                    rows.append(self._project(r.name, None, seq))
            elif compressed and fsio.exists(fai_path) and fsio.exists(gzi_path):
                # bgzip-compressed with .fai + .gzi: random access without
                # inflating the file (reference S6/X12 over bgzf)
                fai = read_fai(fai_path)
                gzi = read_gzi(gzi_path)
                for r in regions:
                    if r.name not in fai:
                        raise ValueError(f"unknown sequence {r.name!r} in FASTA index")
                    seq = faidx_fetch_bgzf(path, gzi, fai, r.name, r.start, r.end)
                    rows.append(self._project(r.name, None, seq))
            else:
                # no index: scan the file, but emit the same per-region
                # rows as the indexed branches (no description)
                seqs = {nm: s for nm, _d, s in iter_fasta(path)}
                for r in regions:
                    if r.name not in seqs:
                        raise ValueError(f"unknown sequence {r.name!r} in FASTA file")
                    s = seqs[r.name]
                    end = len(s) if r.end is None else min(r.end, len(s))
                    rows.append(self._project(r.name, None, s[r.start:end]))
            yield self._emit(rows)
            return
        for name, desc, seq in iter_fasta(path):
            rows.append(self._project(name, desc, seq))
            n += 1
            if len(rows) >= self.batch_size:
                yield self._emit(rows)
                rows = []
            if 0 <= self.limit <= n:
                break
        if rows:
            yield self._emit(rows)


class FastaDataSource(GenomicStreamMixin, DataSource):
    @classmethod
    def name(cls) -> str:
        return "fasta"

    def __init__(self, options):
        super().__init__(options)
        self.paths = self._find_paths()
        self.names = select_fields(FASTA_FIELDS, options.get("fields"))

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.writers import FastaWriter

        return FastaWriter(self.options, overwrite)

    def schema(self):
        return _struct(self.names)

    def reader(self, schema):
        self._require_paths()
        return FastaReader(
            self.paths,
            self.schema(),
            self.names,
            self.options.get("regions"),
            self.options.get("region_cs", "11"),
            int(self.options.get("batch_size", 1)),  # reference default: 1/row
            int(self.options.get("limit", -1)),
            self.options.get("index"),
            self.options.get("gzi"),
        )


class FastqReader(DataSourceReader):
    def __init__(self, paths, schema, names, batch_size, limit):
        self.paths = paths
        self.names = names
        self.batch_size = batch_size
        self.limit = limit
        self._arrow_schema = to_arrow_schema(schema)

    def partitions(self):
        return [_FilePartition(p) for p in self.paths]

    def read(self, partition: _FilePartition):
        fast = self._read_fast(partition)
        if fast is not None:
            yield from fast
            return
        rows, n = [], 0
        with open_text(partition.path) as f:
            while True:
                head = f.readline()
                if not head:
                    break
                seq = f.readline().rstrip("\n")
                plus = f.readline()
                qual = f.readline().rstrip("\n")
                if not head.startswith("@") or not plus.startswith("+"):
                    raise ValueError(f"malformed FASTQ record at {head[:40]!r}")
                name, _, desc = head[1:].rstrip("\n").partition(" ")
                full = {
                    "name": name,
                    "description": desc or None,
                    "sequence": seq,
                    "quality": qual,
                }
                rows.append([full[nm] for nm in self.names])
                n += 1
                if len(rows) >= self.batch_size:
                    yield self._emit(rows)
                    rows = []
                if 0 <= self.limit <= n:
                    break
        if rows:
            yield self._emit(rows)

    def _read_fast(self, partition: _FilePartition):
        """Vectorized whole-partition parse: one pyarrow.csv line read +
        strided takes (records are rigid 4-line groups, so the columns
        are lines[0::4]/[1::4]/[3::4]); name/description split from the
        header with one split_pattern + numpy offset surgery. Returns
        None for anything irregular (record count not divisible by 4,
        wrong sigils, quality/'+' lines that pyarrow's reader could
        mangle) — the line loop then reports the malformed record."""
        import gzip as _gzip

        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.csv as pacsv

        from oxbow_spark.sources import fsio
        from oxbow_spark.sources.base import is_gzip_path

        raw = fsio.open_binary(partition.path)
        if is_gzip_path(partition.path):
            with _gzip.GzipFile(fileobj=raw) as f:
                data = f.read()
        else:
            with raw:
                data = raw.read()
        if not data.strip():
            empty = [pa.array([], f.type) for f in self._arrow_schema]
            return iter([pa.RecordBatch.from_arrays(empty, schema=self._arrow_schema)])
        try:
            tbl = pacsv.read_csv(
                pa.BufferReader(data),
                read_options=pacsv.ReadOptions(
                    column_names=["line"], block_size=1 << 24
                ),
                parse_options=pacsv.ParseOptions(
                    delimiter="\x01", quote_char=False, escape_char=False,
                    ignore_empty_lines=False,
                ),
                convert_options=pacsv.ConvertOptions(
                    column_types={"line": pa.string()},
                ),
            )
        except pa.ArrowInvalid:
            return None
        lines = tbl["line"].combine_chunks()
        if len(lines) % 4 != 0 or lines.null_count:
            return None
        n = len(lines) // 4
        heads = lines.take(np.arange(0, 4 * n, 4))
        plus = lines.take(np.arange(2, 4 * n, 4))
        if not (pc.all(pc.starts_with(heads, "@")).as_py()
                and pc.all(pc.starts_with(plus, "+")).as_py()):
            return None
        if self.limit >= 0 and self.limit < n:
            n = self.limit
            heads = heads.slice(0, n)
        sp = pc.split_pattern(
            pc.utf8_slice_codeunits(heads, 1, 2**30), " ", max_splits=1
        )
        if isinstance(sp, pa.ChunkedArray):
            sp = sp.combine_chunks()
        name = pc.list_element(sp, 0)
        counts = pc.list_value_length(sp).to_numpy(zero_copy_only=False)
        offs = np.asarray(sp.offsets)[:-1]
        has_desc = counts == 2
        flat = sp.flatten()
        desc_vals = flat.take(np.asarray(offs + 1)[has_desc])
        desc_np = np.full(n, None, dtype=object)
        desc_np[has_desc] = desc_vals.to_pylist()
        # '' description → null (the line parser's `desc or None`)
        desc = pa.array([d if d else None for d in desc_np], pa.string())
        cols = {
            "name": name,
            "description": desc,
            "sequence": lines.take(np.arange(1, 4 * n, 4)),
            "quality": lines.take(np.arange(3, 4 * n, 4)),
        }

        def gen():
            for lo in range(0, n, self.batch_size):
                take = min(self.batch_size, n - lo)
                yield pa.RecordBatch.from_arrays(
                    [cols[nm].slice(lo, take).cast(f.type)
                     for nm, f in zip(self.names, self._arrow_schema)],
                    schema=self._arrow_schema,
                )
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([], f.type) for f in self._arrow_schema],
                    schema=self._arrow_schema,
                )

        return gen()

    def _emit(self, rows):
        cols = list(zip(*rows)) if rows else [[] for _ in self.names]
        arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, self._arrow_schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=self._arrow_schema)


class FastqDataSource(GenomicStreamMixin, DataSource):
    @classmethod
    def name(cls) -> str:
        return "fastq"

    def __init__(self, options):
        super().__init__(options)
        if options.get("regions"):
            raise ValueError("FASTQ does not support region queries")
        self.paths = self._find_paths()
        self.names = select_fields(FASTQ_FIELDS, options.get("fields"))

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.writers import FastqWriter

        return FastqWriter(self.options, overwrite)

    def schema(self):
        return _struct(self.names)

    def reader(self, schema):
        self._require_paths()
        return FastqReader(
            self.paths,
            self.schema(),
            self.names,
            int(self.options.get("batch_size", DEFAULT_BATCH_SIZE)),
            int(self.options.get("limit", -1)),
        )
