"""py-oxbow-compatible public API over the Spark-native sources.

The reference's Python surface is twelve lazy ``from_*`` constructors
returning file objects (`py-oxbow/oxbow/__init__.py:49-77`) with
``.batches()`` / ``.to_pandas()`` / ``.to_polars()`` materializers
(`py-oxbow/oxbow/_core/base.py:169-260`), plus twelve one-shot ``read_*``
functions returning Arrow IPC bytes (`py-oxbow/src/lib.rs:33-58`, e.g.
``read_bam`` `py-oxbow/src/alignment.rs:1270`). This module mirrors both,
keyword-for-keyword where the concept exists here, so a reference user can
switch imports and keep their call sites:

    import oxbow_spark as ox
    f = ox.from_bam("sample.bam", regions="chr1:1-8000000")
    df = f.to_spark(spark)      # the Spark-native path (new capability)
    pdf = f.to_pandas()         # driver-side, no Spark needed (parity)
    ipc = ox.read_bam("sample.bam", region="chr1:1-8000000")  # IPC bytes

Two execution paths share one scan implementation:

- ``to_spark(spark)`` registers the format's Python DataSource and builds a
  distributed DataFrame (index-driven partitions, pushdown, the works);
- ``batches()/to_arrow()/to_pandas()/to_polars()`` drive the same
  DataSourceReader locally on the driver — exactly the reference's
  single-stream execution model — so file-like/callable sources work
  without an executor round-trip.

Callable and file-like sources register through
``sources.fsio.register_opener`` (the ``pyobj://`` scheme); they fully
support the driver-side materializers, while distributed ``to_spark``
scans require a real path/URL (same trade-off the reference documents for
non-serializable sources).
"""

from __future__ import annotations

import io
import pathlib
from typing import IO, Any, Callable, Iterator

import pyarrow as pa

from oxbow_spark.sources import fsio

DEFAULT_BATCH_SIZE = 131072  # reference `py-oxbow/oxbow/_pyarrow.py:36`

SourceLike = "str | pathlib.Path | Callable[[], IO[bytes] | str] | IO[bytes] | bytes"


def _as_path(source, what: str = "source") -> str:
    """Resolve a reference-style source (path, Path, callable, file-like,
    bytes) to a path our sources can open; non-path sources register as
    ``pyobj://`` openers (driver-side materializers only)."""
    if isinstance(source, (str, pathlib.Path)):
        return str(source)
    if callable(source) or isinstance(source, (bytes, bytearray)) or hasattr(source, "read"):
        return fsio.register_opener(source)
    raise TypeError(f"unsupported {what} type: {type(source).__name__}")


def _fields_opt(fields) -> str | None:
    """Reference ``fields`` (``"*"`` | list | None) → DataSource option."""
    if fields is None or fields == "*":
        return None
    if isinstance(fields, str):
        return fields
    return ",".join(fields)


def _regions_opt(regions) -> str | None:
    if regions is None:
        return None
    if isinstance(regions, str):
        return regions
    return ";".join(regions)


def _tag_defs_opt(tag_defs) -> str | None:
    """Reference ``[("NM","i"), ...]`` → our ``"NM:i,..."`` option (also
    accepts the string form directly)."""
    if tag_defs is None:
        return None
    if isinstance(tag_defs, str):
        return tag_defs
    return ",".join(f"{nm}:{ty}" for nm, ty in tag_defs)


def _drop_none(opts: dict) -> dict:
    return {k: str(v) for k, v in opts.items() if v is not None}


class OxbowFile:
    """Lazy data source handle (reference ``DataSourceMixin``,
    `py-oxbow/oxbow/_core/base.py:140-260`): holds (format, path, options);
    every materializer re-plans from those, so handles are cheap, picklable
    and reusable."""

    _format: str = ""

    def __init__(self, path: str, options: dict[str, str]):
        self.path = path
        self.options = dict(options)

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self.path!r}, {self.options!r})"

    # -- construction helpers ------------------------------------------------

    def _with(self, **extra) -> "OxbowFile":
        out = type(self)(self.path, {**self.options, **_drop_none(extra)})
        return out

    def _datasource(self):
        from oxbow_spark.sources.register import DATASOURCES

        cls = DATASOURCES[self._format]
        return cls({**self.options, "path": self.path})

    # -- metadata ------------------------------------------------------------

    @property
    def schema(self) -> pa.Schema:
        """Arrow schema of the scan (reference `.schema`), derived from the
        header exactly like a distributed read would."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self._datasource().schema())

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.schema]

    # -- driver-side materializers (reference execution model) ---------------

    def batches(self) -> Iterator[pa.RecordBatch]:
        """Stream Arrow RecordBatches on the driver — the reference's
        ``.batches()`` generator (`_core/base.py:169`). One partition at a
        time through the same reader code the executors run."""
        ds = self._datasource()
        reader = ds.reader(ds.schema())
        for part in reader.partitions():
            yield from reader.read(part)

    def to_arrow(self) -> pa.Table:
        from pyspark.sql.pandas.types import to_arrow_schema

        batches = list(self.batches())
        if not batches:
            return to_arrow_schema(self._datasource().schema()).empty_table()
        return pa.Table.from_batches(batches)

    def to_pandas(self):
        return self.to_arrow().to_pandas()

    def to_polars(self, lazy: bool = False):
        try:
            import polars as pl
        except ImportError as e:  # pragma: no cover - polars not in container
            raise ImportError("to_polars requires the 'polars' package") from e
        out = pl.from_arrow(self.to_arrow())
        return out.lazy() if lazy else out

    # -- Spark materializer (the native path) --------------------------------

    def to_spark(self, spark):
        """Distributed DataFrame over the same scan: index-driven
        partitions, projection pushdown, filter→region pushdown."""
        from oxbow_spark.sources.register import register

        register(spark, self._format)
        r = spark.read.format(self._format)
        for k, v in self.options.items():
            r = r.option(k, v)
        return r.load(self.path)

    df = to_spark


class SamFile(OxbowFile):
    _format = "sam"

    def with_tags(self, scan_rows: int = 1024) -> "SamFile":
        """Re-derive the handle with tag definitions discovered by scanning
        ``scan_rows`` records (reference ``BamFile.with_tags``,
        `py-oxbow/oxbow/_core/alignment.py:276-282`)."""
        return self._with(tags=f"scan:{int(scan_rows)}")


class BamFile(SamFile):
    _format = "bam"


class CramFile(SamFile):
    _format = "cram"


class VcfFile(OxbowFile):
    _format = "vcf"

    def with_samples(self, samples="*") -> "VcfFile":
        """Include genotype data for the given samples (reference
        ``VcfFile.with_samples``)."""
        val = samples if isinstance(samples, str) else ",".join(samples)
        return self._with(samples=val)


class BcfFile(VcfFile):
    _format = "bcf"


class FastaFile(OxbowFile):
    _format = "fasta"


class FastqFile(OxbowFile):
    _format = "fastq"


class BedFile(OxbowFile):
    _format = "bed"


class GtfFile(OxbowFile):
    _format = "gtf"

    def with_attributes(self, scan_rows: int = 1024) -> "GtfFile":
        return self._with(attributes=f"scan:{int(scan_rows)}")


class GffFile(GtfFile):
    _format = "gff"


class _BbiFile(OxbowFile):
    @property
    def zoom_levels(self) -> list[int]:
        """Available reduction levels in bp (reference
        ``BBIFile.zoom_levels``, `py-oxbow/oxbow/_core/bbi.py:38-40`)."""
        return self._datasource().zoom_levels()

    def zoom(self, resolution: int) -> "OxbowFile":
        """Zoom-level handle for ``resolution`` bp: the coarsest level whose
        reduction <= resolution (BBI level-selection rule; reference
        ``.zoom``, `py-oxbow/oxbow/_core/bbi.py:42-61`). The result scans
        the fixed 8-column zoom schema."""
        levels = self.zoom_levels
        if not levels:
            raise ValueError(f"{self.path} has no zoom levels")
        eligible = [i for i, red in enumerate(levels) if red <= resolution]
        if not eligible:
            raise ValueError(
                f"no zoom level at or below {resolution} bp (available: {levels})"
            )
        return self._with(zoom=str(eligible[-1]))


class BigWigFile(_BbiFile):
    _format = "bigwig"


class BigBedFile(_BbiFile):
    _format = "bigbed"


def _base_opts(fields, regions, coords, batch_size, index=None, **extra) -> dict:
    return _drop_none({
        "fields": _fields_opt(fields),
        "regions": _regions_opt(regions),
        "coords": coords,
        "batch_size": batch_size,
        "index": None if index is None else _as_path(index, "index"),
        **extra,
    })


# ---------------------------------------------------------------------------
# from_* constructors — signatures mirror py-oxbow (defaults included)
# ---------------------------------------------------------------------------


def from_sam(source, compression="infer", *, fields="*", tag_defs=None,
             coords="11", regions=None, index=None,
             batch_size=DEFAULT_BATCH_SIZE) -> SamFile:
    """Reference parity: `py-oxbow/oxbow/_core/alignment.py:180-189`.
    ``compression`` is inferred from the path (``infer``/``bgzf``/``gzip``
    accepted; decompression is automatic either way)."""
    return SamFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index,
        tag_defs=_tag_defs_opt(tag_defs)))


def from_bam(source, compression="bgzf", *, fields="*", tag_defs=None,
             coords="11", regions=None, index=None,
             batch_size=DEFAULT_BATCH_SIZE) -> BamFile:
    """Reference parity: `py-oxbow/oxbow/_core/alignment.py:262-272`."""
    if compression not in ("bgzf", "infer"):
        raise ValueError("BAM sources must be BGZF-compressed")
    return BamFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index,
        tag_defs=_tag_defs_opt(tag_defs)))


def from_cram(source, *, fields="*", tag_defs=None, coords="11",
              regions=None, index=None, reference=None, reference_index=None,
              batch_size=DEFAULT_BATCH_SIZE) -> CramFile:
    """Reference parity: `py-oxbow/oxbow/_core/alignment.py:341-352`.
    ``reference_index`` (.fai) is located next to ``reference`` when not
    given, matching the reference's resolver."""
    return CramFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index,
        tag_defs=_tag_defs_opt(tag_defs),
        reference=None if reference is None else _as_path(reference, "reference"),
        reference_index=None if reference_index is None
        else _as_path(reference_index, "reference_index")))


def from_vcf(source, compression="infer", *, fields="*", info_fields="*",
             genotype_fields="*", genotype_by="sample", samples=None,
             samples_nested=False, coords="11", regions=None, index=None,
             batch_size=DEFAULT_BATCH_SIZE) -> VcfFile:
    """Reference parity: `py-oxbow/oxbow/_core/variant.py:148-161`.

    Divergence: ``samples=None`` includes all header samples (the
    reference's pre-0.7 default); pass ``genotype_fields=""`` to drop
    genotype columns entirely."""
    return VcfFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index,
        info_fields=_fields_opt(info_fields),
        genotype_fields=_fields_opt(genotype_fields),
        genotype_by=genotype_by,
        samples=None if samples is None else _fields_opt(samples) or "*",
        samples_nested="true" if samples_nested else None))


def from_bcf(source, compression="bgzf", *, fields="*", info_fields="*",
             genotype_fields="*", genotype_by="sample", samples=None,
             samples_nested=False, coords="11", regions=None, index=None,
             batch_size=DEFAULT_BATCH_SIZE) -> BcfFile:
    """Reference parity: `py-oxbow/oxbow/_core/variant.py:252-264`."""
    return BcfFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index,
        info_fields=_fields_opt(info_fields),
        genotype_fields=_fields_opt(genotype_fields),
        genotype_by=genotype_by,
        samples=None if samples is None else _fields_opt(samples) or "*",
        samples_nested="true" if samples_nested else None))


def from_fasta(source, compression="infer", *, fields="*", coords="11",
               regions=None, index=None, gzi=None,
               batch_size=1) -> FastaFile:
    """Reference parity: `py-oxbow/oxbow/_core/sequence.py:134-144`."""
    return FastaFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index,
        gzi=None if gzi is None else _as_path(gzi, "gzi")))


def from_fastq(source, compression="infer", *, fields="*",
               batch_size=DEFAULT_BATCH_SIZE) -> FastqFile:
    """Reference parity: `py-oxbow/oxbow/_core/sequence.py:204-209`."""
    return FastqFile(_as_path(source), _base_opts(fields, None, None, batch_size))


def from_bed(source, bed_schema="bed3+", compression="infer", *, fields="*",
             coords="01", regions=None, index=None,
             batch_size=DEFAULT_BATCH_SIZE) -> BedFile:
    """Reference parity: `py-oxbow/oxbow/_core/bed.py:69-79`."""
    return BedFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index, bed_schema=bed_schema))


def from_gtf(source, compression="infer", *, fields="*", attribute_defs=None,
             coords="11", regions=None, index=None,
             batch_size=DEFAULT_BATCH_SIZE) -> GtfFile:
    """Reference parity: `py-oxbow/oxbow/_core/gxf.py:124-134`."""
    return GtfFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index,
        attribute_defs=_tag_defs_opt(attribute_defs)))


def from_gff(source, compression="infer", *, fields="*", attribute_defs=None,
             coords="11", regions=None, index=None,
             batch_size=DEFAULT_BATCH_SIZE) -> GffFile:
    """Reference parity: `py-oxbow/oxbow/_core/gxf.py:205-214`."""
    return GffFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, index,
        attribute_defs=_tag_defs_opt(attribute_defs)))


def from_bigwig(source, *, fields="*", coords="01", regions=None,
                batch_size=DEFAULT_BATCH_SIZE) -> BigWigFile:
    """Reference parity: `py-oxbow/oxbow/_core/bbi.py:219-226`."""
    return BigWigFile(_as_path(source), _base_opts(fields, regions, coords, batch_size))


def from_bigbed(source, schema="bed3+", *, fields="*", coords="01",
                regions=None, batch_size=DEFAULT_BATCH_SIZE) -> BigBedFile:
    """Reference parity: `py-oxbow/oxbow/_core/bbi.py:165-173`."""
    return BigBedFile(_as_path(source), _base_opts(
        fields, regions, coords, batch_size, bed_schema=schema))


# ---------------------------------------------------------------------------
# read_* one-shots — Arrow IPC bytes (reference `py-oxbow/src/lib.rs:33-58`)
# ---------------------------------------------------------------------------


def _to_ipc(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def _read_one_shot(ctor, src, region, kwargs) -> bytes:
    f = ctor(src, regions=region, **kwargs)
    return _to_ipc(f.to_arrow())


def read_sam(src, region=None, index=None, fields=None, tag_defs=None,
             compressed=False) -> bytes:
    """One-shot Arrow IPC scan (reference ``read_sam``)."""
    return _read_one_shot(from_sam, src, region, dict(
        index=index, fields=fields or "*", tag_defs=tag_defs))


def read_bam(src, region=None, index=None, fields=None, tag_defs=None,
             compressed=True) -> bytes:
    """One-shot Arrow IPC scan (reference ``read_bam``,
    `py-oxbow/src/alignment.rs:1270-1278`)."""
    return _read_one_shot(from_bam, src, region, dict(
        index=index, fields=fields or "*", tag_defs=tag_defs))


def read_cram(src, region=None, index=None, fields=None, tag_defs=None,
              reference=None) -> bytes:
    return _read_one_shot(from_cram, src, region, dict(
        index=index, fields=fields or "*", tag_defs=tag_defs,
        reference=reference))


def read_vcf(src, region=None, index=None, fields=None, info_fields=None,
             genotype_fields=None, samples=None, genotype_by="sample",
             samples_nested=False, compressed=False) -> bytes:
    return _read_one_shot(from_vcf, src, region, dict(
        index=index, fields=fields or "*", info_fields=info_fields or "*",
        genotype_fields=genotype_fields or "*", samples=samples,
        genotype_by=genotype_by, samples_nested=samples_nested))


def read_bcf(src, region=None, index=None, fields=None, info_fields=None,
             genotype_fields=None, samples=None, genotype_by="sample",
             samples_nested=False) -> bytes:
    return _read_one_shot(from_bcf, src, region, dict(
        index=index, fields=fields or "*", info_fields=info_fields or "*",
        genotype_fields=genotype_fields or "*", samples=samples,
        genotype_by=genotype_by, samples_nested=samples_nested))


def read_fasta(src, region=None, index=None, gzi=None, fields=None,
               compressed=False) -> bytes:
    return _read_one_shot(from_fasta, src, region, dict(
        index=index, gzi=gzi, fields=fields or "*"))


def read_fastq(src, fields=None, compressed=False) -> bytes:
    return _to_ipc(from_fastq(src, fields=fields or "*").to_arrow())


def read_bed(src, bed_schema="bed3+", region=None, index=None, fields=None,
             compressed=False) -> bytes:
    f = from_bed(src, bed_schema, regions=region, index=index,
                 fields=fields or "*")
    return _to_ipc(f.to_arrow())


def read_gtf(src, region=None, index=None, fields=None, attribute_defs=None,
             compressed=False) -> bytes:
    return _read_one_shot(from_gtf, src, region, dict(
        index=index, fields=fields or "*", attribute_defs=attribute_defs))


def read_gff(src, region=None, index=None, fields=None, attribute_defs=None,
             compressed=False) -> bytes:
    return _read_one_shot(from_gff, src, region, dict(
        index=index, fields=fields or "*", attribute_defs=attribute_defs))


def read_bigwig(src, region=None, fields=None) -> bytes:
    return _read_one_shot(from_bigwig, src, region, dict(fields=fields or "*"))


def read_bigbed(src, schema="bed3+", region=None, fields=None) -> bytes:
    f = from_bigbed(src, schema, regions=region, fields=fields or "*")
    return _to_ipc(f.to_arrow())


def idxstats(src, index=None):
    """samtools-idxstats rows (rname, length, n_mapped, n_unmapped)
    from a BAM's header + index metadata pseudo-bins alone — O(index),
    no record bytes touched (`sources/bam.py:idxstats`). Beyond the
    reference's surface: its scanners expose the index for pushdown but
    not the pseudo-bin counters."""
    from oxbow_spark.sources.bam import idxstats as _ix

    return _ix(src, index_path=index)


def cat_bam(parts, out, index=None):
    """`samtools cat`-class consolidation: merge BAM part files into
    ONE file by raw BGZF block copy (no re-compression, no record
    decode), optionally merging their `.bai` sidecars arithmetically
    (`index='bai'`) so the result is immediately region-queryable —
    the delivery step after a distributed `df.write.format('bam')`
    (`sources/cat.py:cat_bam`)."""
    from oxbow_spark.sources.cat import cat_bam as _cat

    return _cat(list(parts), out, index=index)


def cat_bgzf(parts, out, index=None, meta_prefix="#"):
    """Raw-copy consolidation for BGZF TEXT parts (bgzf VCF/GTF/GFF/
    BED): part 0 keeps its '#' header lines, later parts contribute
    record blocks only; `index='tbi'` merges the tabix sidecars so the
    merged file answers region queries immediately
    (`sources/cat.py:cat_bgzf_text`)."""
    from oxbow_spark.sources.cat import cat_bgzf_text as _cat

    return _cat(list(parts), out, index=index, meta_prefix=meta_prefix)


def cat_bcf(parts, out, index=None):
    """Raw-copy consolidation for BCF parts with optional `.csi`
    sidecar merge (`sources/cat.py:cat_bcf`)."""
    from oxbow_spark.sources.cat import cat_bcf as _cat

    return _cat(list(parts), out, index=index)


def cat_cram(parts, out, index=None):
    """Container-stream splice consolidation for CRAM parts (identical
    SAM headers): data containers copy verbatim, one EOF container
    closes the file; `index='crai'` merges the `.crai` sidecars with
    absolute-offset shifts (`sources/cat.py:cat_cram`)."""
    from oxbow_spark.sources.cat import cat_cram as _cat

    return _cat(list(parts), out, index=index)


def sort_bam(df, path, header, index="bai", partitions=None,
             single_file=None, **options):
    """`samtools sort` (+index +cat) at cluster scale: range-partition
    on the header's @SQ order, per-task indexed part writes, optional
    raw-copy splice into ONE sorted indexed BAM
    (`sinks.sort_write_alignments`)."""
    from oxbow_spark.sinks import sort_write_alignments

    return sort_write_alignments(
        df, path, header, fmt="bam", index=index, partitions=partitions,
        single_file=single_file, **options)


def sort_vcf(df, path, header, index="tbi", partitions=None,
             single_file=None, **options):
    """`bcftools sort` (+index +concat) at cluster scale: contig order
    from the header's ##contig lines, bgzf parts with sidecars, raw-
    copy splice into ONE sorted indexed .vcf.gz
    (`sinks.sort_write_variants`)."""
    from oxbow_spark.sinks import sort_write_variants

    return sort_write_variants(
        df, path, header, fmt="vcf", index=index, partitions=partitions,
        single_file=single_file, **options)
