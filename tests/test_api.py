"""py-oxbow-compatible API facade (`oxbow_spark/api.py`).

Parity targets: reference `py-oxbow/oxbow/__init__.py:49-77` (the public
`from_*`/`read_*` surface), `py-oxbow/oxbow/_core/base.py:169-260` (file
handle materializers), `py-oxbow/src/alignment.rs:1270` (one-shot IPC).
"""

from __future__ import annotations

import io
import shutil

import pyarrow as pa
import pytest

import oxbow_spark as ox
from tests.corpus import fixtures_dir, needs_checkout

FX = fixtures_dir() + "/"


def _ipc_table(b: bytes) -> pa.Table:
    return pa.ipc.open_stream(io.BytesIO(b)).read_all()


def test_public_surface_matches_reference():
    # every name the reference exports (py-oxbow/oxbow/__init__.py:49-77)
    # minus version metadata exists here
    ref = {
        "from_bam", "from_bcf", "from_bed", "from_bigbed", "from_bigwig",
        "from_cram", "from_fasta", "from_fastq", "from_gff", "from_gtf",
        "from_sam", "from_vcf",
        "read_bam", "read_bcf", "read_bed", "read_bigbed", "read_bigwig",
        "read_cram", "read_fasta", "read_fastq", "read_gff", "read_gtf",
        "read_sam", "read_vcf",
    }
    assert ref <= set(ox.__all__)
    for nm in ref:
        assert callable(getattr(ox, nm))


@needs_checkout
def test_from_bam_driver_side_equals_spark(spark):
    f = ox.from_bam(FX + "sample.bam")
    local = f.to_arrow()
    dist = f.to_spark(spark)
    assert local.num_rows == dist.count() == 10
    assert [fld.name for fld in dist.schema] == local.schema.names
    # row values agree (sorted by qname for a stable compare)
    lp = local.to_pandas().sort_values("qname").reset_index(drop=True)
    dp = dist.toPandas().sort_values("qname").reset_index(drop=True)
    assert lp["pos"].tolist() == dp["pos"].tolist()
    assert lp["cigar"].tolist() == dp["cigar"].tolist()


@needs_checkout
def test_from_bam_regions_fields_and_schema():
    f = ox.from_bam(
        FX + "sample.bam", regions="chr1:1-100000",
        fields=["qname", "rname", "pos"],
    )
    assert f.columns == ["qname", "rname", "pos"]
    t = f.to_arrow()
    assert t.schema.names == ["qname", "rname", "pos"]
    assert t.num_rows == 2


@needs_checkout
def test_explicit_index_option(tmp_path):
    # index= overrides sidecar discovery (reference from_bam(index=...)):
    # the BAM sits alone in a temp dir, its BAI under an unrelated name
    bam = tmp_path / "x.bam"
    idx = tmp_path / "renamed.idx"
    shutil.copy(FX + "sample.bam", bam)
    shutil.copy(FX + "sample.bam.bai", idx)
    t = ox.from_bam(str(bam), regions="chr1:1-100000", index=str(idx)).to_arrow()
    assert t.num_rows == 2


@needs_checkout
def test_callable_and_filelike_sources():
    t = ox.from_bam(lambda: open(FX + "sample.bam", "rb")).to_arrow()
    assert t.num_rows == 10
    with open(FX + "sample.bam", "rb") as fh:
        data = fh.read()
    assert ox.from_bam(data).to_arrow().num_rows == 10
    assert ox.from_bam(io.BytesIO(data)).to_arrow().num_rows == 10


def test_with_tags_and_tag_defs():
    explicit = ox.from_bam(FX + "sample.bam", tag_defs=[("NM", "i")]).to_arrow()
    assert "tags" in explicit.schema.names
    scanned = ox.from_bam(FX + "sample.bam").with_tags(scan_rows=64).to_arrow()
    assert "tags" in scanned.schema.names
    # handles are immutable: with_tags returns a new object
    base = ox.from_bam(FX + "sample.bam")
    assert "tags" not in base.to_arrow().schema.names


@needs_checkout
def test_read_bam_one_shot_ipc():
    t = _ipc_table(ox.read_bam(FX + "sample.bam"))
    assert t.num_rows == 10
    t2 = _ipc_table(ox.read_bam(FX + "sample.bam", region="chr1:1-100000"))
    assert t2.num_rows == 2


@needs_checkout
def test_vcf_bcf_through_facade():
    # (sample.vcf and sample.bcf are unrelated fixtures — 25 vs 100
    # records; VCF↔BCF value equality is covered by tests/test_csi.py)
    v = ox.from_vcf(FX + "sample.vcf").to_arrow()
    assert v.num_rows == 25
    b = ox.from_bcf(FX + "sample.bcf").to_arrow()
    assert b.num_rows == 100
    assert v.schema.names[:2] == b.schema.names[:2] == ["chrom", "pos"]


@needs_checkout
def test_fasta_region_slice_and_gzi(tmp_path):
    t = ox.from_fasta(FX + "sample.fasta", regions="seq1:1-10").to_arrow()
    assert t.column("sequence").to_pylist() == ["ATGCATGCAT"]
    # explicit index= / gzi= with renamed sidecars
    fa = tmp_path / "x.fa.gz"
    shutil.copy(FX + "sample.fasta.gz", fa)
    shutil.copy(FX + "sample.fasta.fai", tmp_path / "a.fai")
    shutil.copy(FX + "sample.fasta.gz.gzi", tmp_path / "b.gzi")
    t2 = ox.from_fasta(
        str(fa), regions="seq1:1-10",
        index=str(tmp_path / "a.fai"), gzi=str(tmp_path / "b.gzi"),
    ).to_arrow()
    assert t2.column("sequence").to_pylist() == ["ATGCATGCAT"]


@needs_checkout
def test_cram_with_reference_index(tmp_path):
    # reference= and reference_index= under unrelated names
    ref = tmp_path / "genome.fa"
    fai = tmp_path / "genome.index"
    shutil.copy(FX + "sample-ref.fa", ref)
    shutil.copy(FX + "sample-ref.fa.fai", fai)
    t = ox.from_cram(
        FX + "sample-ref.cram", reference=str(ref), reference_index=str(fai)
    ).to_arrow()
    assert t.num_rows == 5
    assert all(s for s in t.column("seq").to_pylist())


@needs_checkout
def test_bigwig_zoom_selection():
    bw = ox.from_bigwig(FX + "sample.bw")
    levels = bw.zoom_levels
    assert levels == sorted(levels) and levels
    z = bw.zoom(levels[0]).to_arrow()
    assert set(z.schema.names) == {
        "chrom", "start", "end", "bases_covered", "min", "max",
        "sum", "sum_squares",
    }
    with pytest.raises(ValueError):
        bw.zoom(levels[0] - 1)


@needs_checkout
def test_bed_gtf_gff_bigbed_facades():
    assert ox.from_bed(FX + "sample.bed").to_arrow().num_rows > 0
    assert ox.from_gtf(FX + "example.gtf").to_arrow().num_rows > 0
    assert ox.from_gff(FX + "example.gff").to_arrow().num_rows > 0
    assert ox.from_bigbed(FX + "sample.bb").to_arrow().num_rows > 0
    assert _ipc_table(ox.read_fastq(FX + "sample.fastq")).num_rows > 0


@needs_checkout
def test_batches_stream_and_empty_schema():
    batches = list(ox.from_bam(FX + "sample.bam").batches())
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert sum(b.num_rows for b in batches) == 10
    # zero-match region still yields a typed (possibly empty) table
    t = ox.from_bam(FX + "sample.bam", regions="chr1:90000-90001").to_arrow()
    assert t.num_rows == 0
    assert "qname" in t.schema.names


def test_missing_path_raises_at_read():
    # write-mode tolerance must not turn a typo'd read path into 0 rows
    with pytest.raises(FileNotFoundError):
        ox.from_bam("/nonexistent/nope.bam").to_arrow()
    with pytest.raises(FileNotFoundError):
        ox.from_vcf("/nonexistent/nope.vcf").to_arrow()
    with pytest.raises(FileNotFoundError):
        ox.from_bigwig("/nonexistent/nope.bw").to_arrow()
    with pytest.raises(FileNotFoundError):
        ox.from_fasta("/nonexistent/nope.fa").to_arrow()
    # header reads, tag scans and BBI metadata go through the same check
    from oxbow_spark.sources.bam import BamDataSource
    from oxbow_spark.sources.bbi import BigWigDataSource
    from oxbow_spark.sources.bcf import BcfDataSource
    from oxbow_spark.sources.sam import SamDataSource
    from oxbow_spark.sources.vcf import VcfDataSource

    for cls, ext in ((BamDataSource, "bam"), (SamDataSource, "sam"),
                     (VcfDataSource, "vcf"), (BcfDataSource, "bcf")):
        with pytest.raises(FileNotFoundError):
            cls({"path": f"/nonexistent/nope.{ext}"}).header()
    with pytest.raises(FileNotFoundError):
        ox.from_bam("/nonexistent/nope.bam").with_tags().to_arrow()
    with pytest.raises(FileNotFoundError):
        ox.from_sam("/nonexistent/nope.sam").with_tags().to_arrow()
    with pytest.raises(FileNotFoundError):
        ox.from_bigwig("/nonexistent/nope.bw").zoom_levels
    with pytest.raises(FileNotFoundError):
        BigWigDataSource({"path": "/nonexistent/nope.bw"}).chrom_sizes()


def test_to_spark_registers_once_per_session(spark, tmp_path, monkeypatch):
    # Spark logs "replaced a previously registered data source" on every
    # repeat register, and to_spark runs once per region query
    import weakref

    from pyspark.sql.datasource import DataSourceRegistration

    import oxbow_spark.sources.register as reg

    sam = tmp_path / "one.sam"
    sam.write_text("@SQ\tSN:chr1\tLN:1000\n"
                   "r1\t0\tchr1\t10\t60\t4M\t*\t0\t0\tACGT\tIIII\n")
    calls = []
    orig = DataSourceRegistration.register

    def register(self, ds):
        calls.append(ds.name())
        return orig(self, ds)

    monkeypatch.setattr(DataSourceRegistration, "register", register)
    # forget earlier tests' registrations; a fresh spark.newSession() cannot
    # take a name another session registered (DATA_SOURCE_ALREADY_EXISTS)
    monkeypatch.setattr(reg, "_REGISTERED", weakref.WeakKeyDictionary(),
                        raising=False)
    f = ox.from_sam(str(sam))
    assert f.to_spark(spark).count() == f.to_spark(spark).count() == 1
    assert calls == ["sam"]
