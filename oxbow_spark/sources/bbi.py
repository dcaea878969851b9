"""BigWig / BigBed (BBI) DataSources: ``spark.read.format("bigwig"|"bigbed")``.

Parity: reference BBI scanners (`oxbow/src/bbi/scanner/bigwig.rs:119-131`,
`bigbed.rs`, zoom `bbizoom.rs:96-127`; SURVEY S10-S12). Implemented from
the public BBI specification (Kent et al. 2010, UCSC bigWig/bigBed format;
https://genome.ucsc.edu/goldenPath/help/bigWig.html).

- ``spark.read.format("bigwig")`` → (chrom, start, end, value) intervals
  (bedGraph-equivalent schema, `bbi/scanner/bigwig.rs:46`)
- ``spark.read.format("bigbed")`` → bed3 + custom columns typed by the
  file's embedded AutoSql declaration (`models/autosql.py`; reference
  `py-oxbow/src/bbi.rs:258-279`); ``bed_schema=rest`` forces the tail
  into one opaque ``rest`` string instead
- option ``zoom=<level>`` on either → the pre-aggregated zoom records
  (chrom, start, end, bases_covered, min, max, sum, sum_squares —
  `bbi/model/zoom.rs:13-44`)
- option ``regions`` → R-tree-pushed block reads, records masked by
  ``coords.region_mask``
- partitions: one per group of R-tree leaf blocks (shuffle-less splits)

Coordinates are native 0-based half-open ('01'); ``coords='11'`` shifts
starts by +1 (ends never shift).
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema

from oxbow_spark import coords as _coords
from oxbow_spark.sources.base import GenomicStreamMixin, select_fields

from oxbow_spark.sources import fsio

BIGWIG_MAGIC = 0x888FFC26
BIGBED_MAGIC = 0x8789F2EB
CHROM_TREE_MAGIC = 0x78CA8C91
RTREE_MAGIC = 0x2468ACE0


@dataclass
class ZoomLevel:
    reduction: int
    data_offset: int
    index_offset: int


class BbiFile:
    """Driver-side BBI header/chrom-tree/R-tree access (picklable state is
    extracted into partitions; executors reopen the file)."""

    def __init__(self, path: str):
        self.path = path
        self.f = fsio.open_binary(path)
        magic_raw = self.f.read(4)
        for fmt in ("<I", ">I"):
            (m,) = struct.unpack(fmt, magic_raw)
            if m in (BIGWIG_MAGIC, BIGBED_MAGIC):
                self.endian = fmt[0]
                self.magic = m
                break
        else:
            raise ValueError(f"{path} is not a BigWig/BigBed file")
        e = self.endian
        (self.version, self.zoom_levels_n, self.chrom_tree_off, self.full_data_off,
         self.full_index_off, self.field_count, self.defined_field_count,
         self.autosql_off, self.total_summary_off, self.uncompress_buf_size,
         _reserved) = struct.unpack(e + "HHQQQHHQQIQ", self.f.read(60))
        self.zooms: list[ZoomLevel] = []
        for _ in range(self.zoom_levels_n):
            red, _r, doff, ioff = struct.unpack(e + "IIQQ", self.f.read(24))
            self.zooms.append(ZoomLevel(red, doff, ioff))
        self.chroms = self._read_chrom_tree()          # id → (name, size)
        self.chrom_ids = {v[0]: k for k, v in self.chroms.items()}

    def close(self):
        self.f.close()

    @property
    def is_bigwig(self) -> bool:
        return self.magic == BIGWIG_MAGIC

    def autosql(self) -> str | None:
        """The embedded AutoSql declaration (zero-terminated text), or
        None when the file carries none."""
        if not self.autosql_off:
            return None
        self.f.seek(self.autosql_off)
        buf = bytearray()
        while True:
            chunk = self.f.read(4096)
            if not chunk:
                break
            z = chunk.find(b"\x00")
            if z >= 0:
                buf += chunk[:z]
                break
            buf += chunk
        return buf.decode("utf-8", "replace") or None

    def _read_chrom_tree(self) -> dict[int, tuple[str, int]]:
        e = self.endian
        self.f.seek(self.chrom_tree_off)
        magic, _bs, key_size, _vs, _n, _r = struct.unpack(e + "IIIIQQ", self.f.read(32))
        if magic != CHROM_TREE_MAGIC:
            raise ValueError("bad chromosome B+ tree magic")
        out: dict[int, tuple[str, int]] = {}

        def node(off: int):
            self.f.seek(off)
            is_leaf, _r, count = struct.unpack(e + "BBH", self.f.read(4))
            if is_leaf:
                for _ in range(count):
                    raw = self.f.read(key_size + 8)
                    key = raw[:key_size].rstrip(b"\x00").decode()
                    cid, csize = struct.unpack_from(e + "II", raw, key_size)
                    out[cid] = (key, csize)
            else:
                kids = []
                for _ in range(count):
                    raw = self.f.read(key_size + 8)
                    (child,) = struct.unpack_from(e + "Q", raw, key_size)
                    kids.append(child)
                for child in kids:
                    node(child)

        node(self.chrom_tree_off + 32)
        return out

    def rtree_leaves(
        self, index_off: int,
        query: tuple[int, int, int] | None = None,
    ) -> list[tuple[int, int]]:
        """(data_offset, data_size) of R-tree leaf blocks; with ``query``
        (chrom_id, start, end) only overlapping blocks are returned."""
        e = self.endian
        self.f.seek(index_off)
        magic = struct.unpack(e + "I", self.f.read(4))[0]
        if magic != RTREE_MAGIC:
            raise ValueError("bad R-tree magic")
        self.f.read(44)  # blockSize, itemCount, start/end bounds, endFileOffset, itemsPerSlot, reserved
        leaves: list[tuple[int, int]] = []

        def overlaps(scix, sb, ecix, eb) -> bool:
            if query is None:
                return True
            cid, qs, qe = query
            if (ecix, eb) <= (cid, qs):
                return False
            if (scix, sb) >= (cid, qe):
                return False
            return True

        def node(off: int):
            self.f.seek(off)
            is_leaf, _r, count = struct.unpack(e + "BBH", self.f.read(4))
            items = self.f.read(count * (32 if is_leaf else 24))
            if is_leaf:
                for i in range(count):
                    scix, sb, ecix, eb, doff, dsize = struct.unpack_from(e + "IIIIQQ", items, i * 32)
                    if overlaps(scix, sb, ecix, eb):
                        leaves.append((doff, dsize))
            else:
                kids = []
                for i in range(count):
                    scix, sb, ecix, eb, child = struct.unpack_from(e + "IIIIQ", items, i * 24)
                    if overlaps(scix, sb, ecix, eb):
                        kids.append(child)
                for child in kids:
                    node(child)

        node(index_off + 48)
        return leaves

    def decompress(self, raw: bytes) -> bytes:
        if self.uncompress_buf_size > 0:
            return zlib.decompress(raw)
        return raw


def decode_bigwig_block(data: bytes, endian: str, chroms) -> list[tuple]:
    cid, cstart, cend, step, span, btype, _r, n = struct.unpack_from(endian + "IIIIIBBH", data, 0)
    name = chroms[cid][0]
    out = []
    off = 24
    if btype == 1:  # bedGraph
        for _ in range(n):
            s, e_, v = struct.unpack_from(endian + "IIf", data, off)
            off += 12
            out.append((name, s, e_, v))
    elif btype == 2:  # varStep
        for _ in range(n):
            s, v = struct.unpack_from(endian + "If", data, off)
            off += 8
            out.append((name, s, s + span, v))
    elif btype == 3:  # fixedStep
        s = cstart
        for _ in range(n):
            (v,) = struct.unpack_from(endian + "f", data, off)
            off += 4
            out.append((name, s, s + span, v))
            s += step
    return out


def decode_bigbed_block(
    data: bytes, endian: str, chroms, asql_tags: tuple[str, ...] | None = None
) -> list[tuple]:
    """BigBed records: bed3 + the tail payload — one opaque ``rest``
    string, or typed per the embedded AutoSql declaration when
    ``asql_tags`` (parser-tag names from models.autosql) is given."""
    from oxbow_spark.models.autosql import PARSERS

    out = []
    off = 0
    while off + 12 <= len(data):
        cid, s, e_ = struct.unpack_from(endian + "III", data, off)
        off += 12
        z = data.index(b"\x00", off)
        rest = data[off:z].decode("utf-8", "replace")
        off = z + 1
        if asql_tags is None:
            out.append((chroms[cid][0], s, e_, rest or None))
        else:
            vals = rest.split("\t") if rest else []
            row = [chroms[cid][0], s, e_]
            for i, tag in enumerate(asql_tags):
                row.append(PARSERS[tag](vals[i]) if i < len(vals) else None)
            out.append(tuple(row))
    return out


# ---- numpy column decoders (the vectorized twins of the tuple decoders
# above, used by BbiReader._read_np; BigWig/zoom records are fixed-width,
# so a block decodes as one structured frombuffer view) ----

def _chrom_obj(chroms) -> "np.ndarray":
    n = max(chroms) + 1 if chroms else 0
    arr = np.empty(n, dtype=object)
    for cid, (nm, _sz) in chroms.items():
        arr[cid] = nm
    return arr


def decode_bigwig_block_np(data: bytes, endian: str, chroms):
    """One BigWig data block → (chrom_objs, start, end, value) numpy
    columns (same values as `decode_bigwig_block`)."""
    cid, cstart, _cend, step, span, btype, _r, n = struct.unpack_from(
        endian + "IIIIIBBH", data, 0
    )
    name = chroms[cid][0]
    if btype == 1:  # bedGraph
        dt = np.dtype([("s", endian + "u4"), ("e", endian + "u4"),
                       ("v", endian + "f4")])
        a = np.frombuffer(data, dt, n, 24)
        s = a["s"].astype(np.int64)
        e_ = a["e"].astype(np.int64)
        v = a["v"]
    elif btype == 2:  # varStep
        dt = np.dtype([("s", endian + "u4"), ("v", endian + "f4")])
        a = np.frombuffer(data, dt, n, 24)
        s = a["s"].astype(np.int64)
        e_ = s + span
        v = a["v"]
    else:  # fixedStep
        v = np.frombuffer(data, endian + "f4", n, 24)
        s = cstart + step * np.arange(n, dtype=np.int64)
        e_ = s + span
    names = np.full(n, name, dtype=object)
    return names, s, e_, np.ascontiguousarray(v)


def decode_bigbed_block_np(data: bytes, endian: str, chroms):
    """One BigBed block (rest-as-string schema) → (chrom_objs, start,
    end, rest_off, rest_len, raw) columns. Framing walks the NUL
    terminators with C-level ``bytes.index`` (the 12-byte prefix may
    itself contain zero bytes, so the scan must skip it per record);
    prefixes then gather as one structured numpy view and the rest
    spans slice against the raw buffer — no per-record struct/decode."""
    find = data.index
    size = len(data)
    starts: list[int] = []
    zpos: list[int] = []
    off = 0
    while off + 12 <= size:
        z = find(b"\x00", off + 12)
        starts.append(off)
        zpos.append(z)
        off = z + 1
    n = len(starts)
    arr = np.frombuffer(data, np.uint8)
    st = np.asarray(starts, dtype=np.int64)
    zp = np.asarray(zpos, dtype=np.int64)
    if n == 0:
        return (np.empty(0, object), np.zeros(0, np.int64),
                np.zeros(0, np.int64), np.zeros(0, np.int64),
                np.zeros(0, np.int64), arr)
    dt = np.dtype([("cid", endian + "u4"), ("s", endian + "u4"),
                   ("e", endian + "u4")])
    fx = arr[st[:, None] + np.arange(12)].view(dt)[:, 0]
    names = _chrom_obj(chroms)[fx["cid"].astype(np.int64)]
    return (names, fx["s"].astype(np.int64), fx["e"].astype(np.int64),
            st + 12, zp - (st + 12), arr)


def decode_zoom_block_np(data: bytes, endian: str, chroms):
    """One zoom block → (chrom_objs, start, end, valid, min, max, sum,
    sum_squares) numpy columns (cid varies per record)."""
    n = len(data) // 32
    dt = np.dtype([
        ("cid", endian + "u4"), ("s", endian + "u4"), ("e", endian + "u4"),
        ("valid", endian + "u4"), ("mn", endian + "f4"), ("mx", endian + "f4"),
        ("sm", endian + "f4"), ("ssq", endian + "f4"),
    ])
    a = np.frombuffer(data, dt, n)
    names = _chrom_obj(chroms)[a["cid"].astype(np.int64)]
    return (
        names, a["s"].astype(np.int64), a["e"].astype(np.int64),
        a["valid"].astype(np.int64),
        a["mn"].astype(np.float64), a["mx"].astype(np.float64),
        a["sm"].astype(np.float64), a["ssq"].astype(np.float64),
    )


WIG_SCHEMA = T.StructType([
    T.StructField("chrom", T.StringType(), False),
    T.StructField("start", T.LongType(), True),
    T.StructField("end", T.LongType(), True),
    T.StructField("value", T.FloatType(), True),
])
BED_SCHEMA = T.StructType([
    T.StructField("chrom", T.StringType(), False),
    T.StructField("start", T.LongType(), True),
    T.StructField("end", T.LongType(), True),
    T.StructField("rest", T.StringType(), True),
])
ZOOM_SCHEMA = T.StructType([
    T.StructField("chrom", T.StringType(), False),
    T.StructField("start", T.LongType(), True),
    T.StructField("end", T.LongType(), True),
    T.StructField("bases_covered", T.LongType(), True),
    T.StructField("min", T.DoubleType(), True),
    T.StructField("max", T.DoubleType(), True),
    T.StructField("sum", T.DoubleType(), True),
    T.StructField("sum_squares", T.DoubleType(), True),
])

_LEAVES_PER_PARTITION = 256


class BbiPartition(InputPartition):
    def __init__(self, path: str, blocks: list[tuple[int, int]]):
        self.path = path
        self.blocks = blocks


class BbiReader(DataSourceReader):
    def __init__(self, src: "_BbiSource"):
        self.paths = src.paths
        self.kind = src.kind          # 'wig' | 'bed' | 'zoom'
        self.zoom = src.zoom
        self.spark_schema = src.spark_schema
        self.names = src.names
        self.coord_offset = src.coord_offset
        self.regions = src.regions
        self.asql_tags = src.asql_tags
        self._arrow_schema = to_arrow_schema(self.spark_schema)
        self._full_names = src.full_names

    def partitions(self):
        parts: list[BbiPartition] = []
        for p in self.paths:
            bbi = BbiFile(p)
            try:
                if self.kind == "zoom":
                    levels = sorted(bbi.zooms, key=lambda z: z.reduction)
                    if not levels:
                        raise ValueError(f"{p} has no zoom levels")
                    if self.zoom < 0 or self.zoom >= len(levels):
                        raise ValueError(
                            f"zoom level {self.zoom} out of range (0..{len(levels) - 1})"
                        )
                    index_off = levels[self.zoom].index_offset
                else:
                    index_off = bbi.full_index_off
                if self.regions:
                    # pool R-tree leaves across (pre-merged) regions and
                    # dedupe blocks; each partition masks by the whole
                    # union so a record overlapping two regions — or two
                    # regions sharing a leaf block — is emitted once
                    seen: set[tuple[int, int]] = set()
                    leaves = []
                    for reg in self.regions:
                        if reg.name not in bbi.chrom_ids:
                            continue
                        cid = bbi.chrom_ids[reg.name]
                        qe = reg.end if reg.end is not None else bbi.chroms[cid][1]
                        for leaf in bbi.rtree_leaves(index_off, (cid, reg.start, qe)):
                            if leaf not in seen:
                                seen.add(leaf)
                                leaves.append(leaf)
                else:
                    leaves = bbi.rtree_leaves(index_off)
                parts.extend(BbiPartition(p, leaves[i:i + _LEAVES_PER_PARTITION])
                             for i in range(0, len(leaves), _LEAVES_PER_PARTITION))
            finally:
                bbi.close()
        return parts or [BbiPartition(self.paths[0], [])]

    def read(self, part: BbiPartition):
        bbi = BbiFile(part.path)
        try:
            if self.kind == "zoom" or bbi.is_bigwig or self.asql_tags is None:
                yield self._read_np(bbi, part)
                return
            # AutoSql-typed BigBed: vectorized split+cast fast path,
            # per-record parser loop as the exact-semantics fallback
            batch = self._read_typed_np(bbi, part)
            if batch is not None:
                yield batch
                return
            recs = []
            for doff, dsize in part.blocks:
                bbi.f.seek(doff)
                recs += decode_bigbed_block(bbi.decompress(bbi.f.read(dsize)),
                                            bbi.endian, bbi.chroms, self.asql_tags)
            if self.regions:
                keep = _coords.region_mask(self.regions, *(
                    [rec[i] for rec in recs] for i in range(3)))
                recs = [rec for rec, k in zip(recs, keep) if k]
            rows = []
            proj = [self._full_names.index(n) for n in self.names]
            identity = proj == list(range(len(self._full_names)))
            for rec in recs:
                row = list(rec)
                if self.coord_offset:
                    row[1] += self.coord_offset
                rows.append(row if identity else [row[i] for i in proj])
            cols = list(zip(*rows)) if rows else [[] for _ in self._arrow_schema]
            arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, self._arrow_schema)]
            yield pa.RecordBatch.from_arrays(arrays, schema=self._arrow_schema)
        finally:
            bbi.close()

    def _read_typed_np(self, bbi: "BbiFile", part: BbiPartition):
        """Vectorized AutoSql-typed BigBed read: decode blocks with the
        rest-schema numpy path, split every rest payload ON ONE PASS
        (`pc.split_pattern`), then per-FIELD arrow casts mirroring
        `models.autosql.PARSERS` ('' / '.' → null, trailing-comma strip
        + comma split + element cast for list fields). Projection-pruned:
        unrequested fields never parse. Returns None (fallback to the
        per-record parser loop) for ragged rows or any cast the arrow
        kernels cannot reproduce — fast ≡ slow by construction."""
        from pyarrow import compute as pc

        from oxbow_spark.sources.bam import _gather_ranges, _utf8_array

        try:
            chunks = []
            for doff, dsize in part.blocks:
                bbi.f.seek(doff)
                data = bbi.decompress(bbi.f.read(dsize))
                chunks.append(decode_bigbed_block_np(data, bbi.endian,
                                                     bbi.chroms))
            if chunks:
                gathered = [
                    _gather_ranges(c[5], c[3], c[4])[0] for c in chunks
                ]
                rest_data = (np.concatenate(gathered) if gathered
                             else np.zeros(0, np.uint8))
                rest_len = np.concatenate([c[4] for c in chunks])
                cols = [np.concatenate([c[i] for c in chunks])
                        for i in range(3)]
            else:
                cols = [np.empty(0, dtype=object),
                        np.zeros(0, np.int64), np.zeros(0, np.int64)]
                rest_data = np.zeros(0, np.uint8)
                rest_len = np.zeros(0, np.int64)
            names_c, s_c, e_c = cols
            mask = None
            if self.regions:
                mask = _coords.region_mask(self.regions, names_c, s_c, e_c)
                cols = [c[mask] for c in cols]
            if self.coord_offset:
                cols[1] = cols[1] + self.coord_offset
            starts_all = np.concatenate(([0], np.cumsum(rest_len)))[:-1]
            if mask is not None:
                data_m, _ = _gather_ranges(rest_data, starts_all[mask],
                                           rest_len[mask])
                lens_m = rest_len[mask]
            else:
                data_m, lens_m = rest_data, rest_len
            rest_arr = _utf8_array(lens_m, data_m, np.zeros(len(lens_m),
                                                            bool))
            n = len(rest_arr)
            k = len(self.asql_tags)
            split = pc.split_pattern(rest_arr, "\t")
            lens = pc.list_value_length(split).to_numpy(
                zero_copy_only=False)
            if n and not bool((lens == k).all()):
                return None  # ragged rows: parser-loop semantics differ
            flat = pc.list_flatten(split)
            needed = set(self.names)
            by_name = dict(zip(self._full_names[:3], cols))
            field_names = self._full_names[3:]
            types = {f.name: f.type for f in self._arrow_schema}
            for i, (fname, tag) in enumerate(zip(field_names,
                                                 self.asql_tags)):
                if fname not in needed:
                    continue
                col = flat.take(np.arange(i, n * k, k)) if n else                     pa.array([], type=pa.string())
                # PARSERS parity: '' nulls every tag; '.' additionally
                # nulls numerics and lists but stays VERBATIM in strings
                null_m = pc.equal(col, "")
                if tag != "str":
                    null_m = pc.or_(null_m, pc.equal(col, "."))
                col = pc.if_else(null_m, pa.scalar(None, pa.string()), col)
                t = types[fname]
                if tag in ("int", "long", "float", "double"):
                    col = pc.cast(col, t)
                elif tag.endswith("_list"):
                    col = pc.replace_substring_regex(col, ",+$", "")
                    col = pc.split_pattern(col, ",")
                    col = pc.cast(col, t)
                else:  # str
                    pass
                by_name[fname] = col
            arrays = []
            for fld in self._arrow_schema:
                v = by_name[fld.name]
                arrays.append(v if isinstance(v, pa.Array)
                              else pa.array(v, type=fld.type))
            return pa.RecordBatch.from_arrays(arrays,
                                              schema=self._arrow_schema)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, ValueError):
            return None

    def _read_np(self, bbi: "BbiFile", part: BbiPartition) -> pa.RecordBatch:
        """Columnar partition read (BigWig intervals, zoom summaries,
        BigBed rest-schema): per block one structured frombuffer decode,
        then one vectorized region mask + coordinate offset over the
        concatenated columns — no per-record Python. BigBed rest strings
        build straight from gathered byte spans (`_utf8_array`)."""
        from oxbow_spark.sources.bam import _gather_ranges, _utf8_array

        is_bed = self.kind != "zoom" and not bbi.is_bigwig
        if self.kind == "zoom":
            decode = decode_zoom_block_np
        elif bbi.is_bigwig:
            decode = decode_bigwig_block_np
        else:
            decode = decode_bigbed_block_np
        chunks: list[tuple] = []
        for doff, dsize in part.blocks:
            bbi.f.seek(doff)
            data = bbi.decompress(bbi.f.read(dsize))
            chunks.append(decode(data, bbi.endian, bbi.chroms))
        n_plain = 6 if is_bed else (8 if self.kind == "zoom" else 4)
        if chunks:
            if is_bed:
                # pre-gather each chunk's rest bytes so spans survive the
                # cross-chunk concatenation
                gathered = [
                    _gather_ranges(c[5], c[3], c[4])[0] for c in chunks
                ]
                rest_data = (np.concatenate(gathered) if gathered
                             else np.zeros(0, np.uint8))
                rest_len = np.concatenate([c[4] for c in chunks])
                cols = [np.concatenate([c[i] for c in chunks])
                        for i in range(3)]
            else:
                cols = [np.concatenate([c[i] for c in chunks])
                        for i in range(n_plain)]
        else:
            cols = [np.empty(0, dtype=object)] + [
                np.zeros(0, dtype=np.int64) for _ in range(2 if is_bed else n_plain - 1)
            ]
            rest_data = np.zeros(0, np.uint8)
            rest_len = np.zeros(0, np.int64)
        names_c, s_c, e_c = cols[0], cols[1], cols[2]
        mask = None
        if self.regions:
            mask = _coords.region_mask(self.regions, names_c, s_c, e_c)
            cols = [c[mask] for c in cols]
            s_c = cols[1]
        if self.coord_offset:
            cols[1] = s_c + self.coord_offset
        by_name = dict(zip(self._full_names, cols))
        if is_bed:
            starts_all = np.concatenate(([0], np.cumsum(rest_len)))[:-1]
            if mask is not None:
                data_m, _ = _gather_ranges(rest_data, starts_all[mask],
                                           rest_len[mask])
                lens_m = rest_len[mask]
            else:
                data_m, lens_m = rest_data, rest_len
            # empty rest → null (the row decoder's `rest or None`)
            by_name["rest"] = _utf8_array(lens_m, data_m, lens_m == 0)
        arrays = [
            by_name[fld.name] if isinstance(by_name[fld.name], pa.Array)
            else pa.array(by_name[fld.name], type=fld.type)
            for fld in self._arrow_schema
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=self._arrow_schema)


class PushdownBbiReader(BbiReader):
    """BbiReader + automatic filter→region pushdown (R-tree block
    pruning); only planned on sessions with
    spark.sql.python.filterPushdown.enabled (see sources/pushdown.py).
    BBI starts are natively 0-based."""

    def pushFilters(self, filters):
        from oxbow_spark.sources.pushdown import region_from_filters

        if not self.regions:
            reg = region_from_filters(
                filters, "chrom", "start", self.coord_offset, native_cs="01"
            )
            if reg is not None:
                self.regions = [reg]
        return filters


class _BbiSource(GenomicStreamMixin, DataSource):
    NATIVE_CS = "01"
    KIND = "wig"

    def __init__(self, options: dict):
        super().__init__(options)
        self.paths = self._find_paths()
        self.zoom = int(options["zoom"]) if options.get("zoom") not in (None, "") else -1
        self.kind = "zoom" if self.zoom >= 0 else self.KIND
        self.asql_tags: tuple[str, ...] | None = None
        if self.kind == "zoom":
            base = ZOOM_SCHEMA
        elif self.kind == "wig":
            base = WIG_SCHEMA
        else:
            base = self._bigbed_schema(options)
        self.full_names = [f.name for f in base]
        self.names = select_fields(self.full_names, options.get("fields"))
        self.spark_schema = T.StructType([base[n] for n in self.names])
        self.coord_offset = _coords.start_offset(self.NATIVE_CS, options.get("coords", self.NATIVE_CS))
        self.regions = _coords.merge_regions(_coords.parse_regions(
            options.get("regions"), options.get("region_cs", self.NATIVE_CS)
        ))

    def _bigbed_schema(self, options: dict) -> T.StructType:
        """BigBed column typing: the embedded AutoSql declaration types
        the custom (post-bed3) columns (reference `py-oxbow/src/bbi.rs:
        258-279`); ``bed_schema=rest`` forces the opaque tail string."""
        if options.get("bed_schema", "autosql") != "autosql":
            return BED_SCHEMA
        if not self.paths:
            return BED_SCHEMA  # write mode: no file to read autosql from
        from oxbow_spark.models.autosql import parse_autosql

        bbi = BbiFile(self.paths[0])
        try:
            decl = bbi.autosql()
            n_fields = bbi.field_count
        finally:
            bbi.close()
        if not decl:
            return BED_SCHEMA
        _name, fields = parse_autosql(decl)
        if n_fields and len(fields) < n_fields:
            return BED_SCHEMA  # declaration doesn't cover the row: opaque tail
        custom = fields[3:n_fields] if n_fields else fields[3:]
        self.asql_tags = tuple(f.tag for f in custom)
        return T.StructType(
            [
                T.StructField("chrom", T.StringType(), False),
                T.StructField("start", T.LongType(), True),
                T.StructField("end", T.LongType(), True),
            ]
            + [T.StructField(f.name, f.dtype, True) for f in custom]
        )

    def schema(self):
        return self.spark_schema

    def reader(self, schema):
        from oxbow_spark.sources.pushdown import pushdown_enabled

        self._require_paths()
        return PushdownBbiReader(self) if pushdown_enabled() else BbiReader(self)

    # metadata introspection (SURVEY M1/M4)
    def chrom_sizes(self) -> dict[str, int]:
        bbi = BbiFile(self._require_paths()[0])
        try:
            return {nm: sz for nm, sz in bbi.chroms.values()}
        finally:
            bbi.close()

    def zoom_levels(self) -> list[int]:
        bbi = BbiFile(self._require_paths()[0])
        try:
            return sorted(z.reduction for z in bbi.zooms)
        finally:
            bbi.close()


class BigWigDataSource(_BbiSource):
    KIND = "wig"

    @classmethod
    def name(cls) -> str:
        return "bigwig"

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.bbi_write import BigWigWriter

        return BigWigWriter(self.options, overwrite)


class BigBedDataSource(_BbiSource):
    KIND = "bed"

    @classmethod
    def name(cls) -> str:
        return "bigbed"

    def writer(self, schema, overwrite: bool):
        from oxbow_spark.sources.bbi_write import BigBedWriter

        return BigBedWriter(self.options, overwrite)
