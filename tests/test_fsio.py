"""Remote-opener layer (`sources/fsio`): local paths use the stdlib, URLs
route through fsspec when importable, and fail with a clear message when
not. Without fsspec installed, the remote protocol is exercised with a
minimal stub injected into sys.modules that maps ``mock://<rel>`` onto
the fixture directory that ``tests/corpus.py`` resolves — driver-side
only, which is enough because the DataSource readers are plain Python
objects whose ``partitions()``/``read()`` can be driven in-process.

Reference parity: py-oxbow/oxbow/_core/base.py:386-463 (fsspec URL
handling for every scanner).
"""

from __future__ import annotations

import os
import sys
import types

import pytest

from oxbow_spark.sources import fsio
from tests.corpus import fixtures_dir

FIX = fixtures_dir()


# ---------------------------------------------------------------- stub fsspec

class _MockFS:
    protocol = "mock"

    def _local(self, p: str) -> str:
        return os.path.join(FIX, p.lstrip("/"))

    def info(self, p):
        return {"size": os.path.getsize(self._local(p))}

    def exists(self, p):
        return os.path.exists(self._local(p))

    def isdir(self, p):
        return os.path.isdir(self._local(p))

    def ls(self, p, detail=False):
        base = self._local(p)
        return [p.rstrip("/") + "/" + f for f in sorted(os.listdir(base))]

    def glob(self, p):
        import glob as g
        hits = g.glob(self._local(p))
        return sorted(h[len(FIX):].lstrip("/") for h in hits)

    def unstrip_protocol(self, p):
        return "mock://" + p.lstrip("/")

    def open(self, p, mode="rb"):
        return open(self._local(p), mode)


class _OpenFile:
    def __init__(self, fs, path, mode):
        self.fs, self.path, self.mode = fs, path, mode

    def open(self):
        return self.fs.open(self.path, self.mode)


@pytest.fixture()
def stub_fsspec(monkeypatch):
    fs = _MockFS()
    mod = types.ModuleType("fsspec")
    core = types.ModuleType("fsspec.core")

    def url_to_fs(url):
        assert url.startswith("mock://")
        return fs, url[len("mock://"):]

    core.url_to_fs = url_to_fs
    mod.core = core
    mod.open = lambda url, mode="rb": _OpenFile(fs, url[len("mock://"):], mode)
    monkeypatch.setitem(sys.modules, "fsspec", mod)
    monkeypatch.setitem(sys.modules, "fsspec.core", core)
    return fs


# ------------------------------------------------------------------ unit layer

def test_local_paths_bypass_fsspec():
    # no fsspec in this container: local access must never try to import it
    p = os.path.join(FIX, "sample.sam")
    assert not fsio.is_remote(p)
    with fsio.open_binary(p) as f:
        assert f.read(1) == b"@"
    assert fsio.getsize(p) == os.path.getsize(p)
    assert fsio.exists(p)
    assert fsio.expand(p) == [p]


def test_file_scheme_is_local():
    url = "file://" + os.path.join(FIX, "sample.sam")
    assert not fsio.is_remote(url)
    with fsio.open_binary(url) as f:
        assert f.read(1) == b"@"
    assert fsio.expand(url) == [os.path.join(FIX, "sample.sam")]


def test_remote_without_fsspec_raises_helpfully():
    assert "fsspec" not in sys.modules or sys.modules["fsspec"].__name__ == "fsspec"
    with pytest.raises(ImportError, match="fsspec"):
        fsio.open_binary("https://example.org/sample.bam")


def test_remote_via_stub(stub_fsspec):
    url = "mock://sample.sam"
    assert fsio.is_remote(url)
    assert fsio.exists(url)
    assert fsio.getsize(url) == os.path.getsize(os.path.join(FIX, "sample.sam"))
    with fsio.open_binary(url) as f:
        head = f.read(4)
    with open(os.path.join(FIX, "sample.sam"), "rb") as f:
        assert head == f.read(4)
    assert fsio.expand("mock://sample.sa?") == ["mock://sample.sam"]


# ------------------------------------------------------- reader-object layer

def _collect_reader(ds_cls, options: dict) -> list[tuple]:
    ds = ds_cls(options)
    reader = ds.reader(ds.schema())
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(tuple(d.values()) for d in batch.to_pylist())
    return rows


def test_sam_reader_through_mock_url(stub_fsspec):
    from oxbow_spark.sources.sam import SamDataSource

    local = _collect_reader(SamDataSource, {"path": os.path.join(FIX, "sample.sam")})
    remote = _collect_reader(SamDataSource, {"path": "mock://sample.sam"})
    assert remote == local and len(remote) > 0


def test_bam_reader_through_mock_url(stub_fsspec):
    from oxbow_spark.sources.bam import BamDataSource

    local = _collect_reader(BamDataSource, {"path": os.path.join(FIX, "sample.bam")})
    remote = _collect_reader(BamDataSource, {"path": "mock://sample.bam"})
    assert remote == local and len(remote) > 0


def test_bam_region_query_uses_remote_index(stub_fsspec):
    from oxbow_spark.sources.bam import BamDataSource

    opts = {"regions": "chr1:1-100000"}
    local = _collect_reader(
        BamDataSource, {"path": os.path.join(FIX, "sample.bam"), **opts}
    )
    remote = _collect_reader(BamDataSource, {"path": "mock://sample.bam", **opts})
    assert remote == local


# -------------------------------------------------------------- spark layer

def test_spark_reads_file_scheme_end_to_end(spark):
    """file:// URLs need no fsspec anywhere, so this runs end-to-end
    through real executors."""
    from oxbow_spark.sources import register_all

    register_all(spark)
    local = spark.read.format("sam").load(os.path.join(FIX, "sample.sam"))
    url = spark.read.format("sam").load("file://" + os.path.join(FIX, "sample.sam"))
    assert url.collect() == local.collect()


# ------------------------------------------------ pyobj:// Python sources

def test_pyobj_bytesio_bam_header():
    """Reference parity (py-oxbow _core/base.py:386-463): a BytesIO-backed
    BAM opens for driver-side header reads via a registered opener."""
    import io

    from oxbow_spark.sources import fsio
    from oxbow_spark.sources.bam import BamDataSource

    data = open(f"{FIX}/sample.bam", "rb").read()
    path = fsio.register_opener(io.BytesIO(data))
    try:
        src = BamDataSource({"path": path})
        hdr = src.header()
        assert hdr.chrom_names
        # every open is a fresh handle: header read twice is identical
        assert src.header().chrom_names == hdr.chrom_names
    finally:
        fsio.unregister_opener(path)


def test_pyobj_callable_opener_fastq():
    import io

    from oxbow_spark.sources import fsio
    from oxbow_spark.sources.sequence import FastqDataSource

    data = open(f"{FIX}/sample.fastq", "rb").read()
    path = fsio.register_opener(lambda: io.BytesIO(data), name="fq")
    try:
        src = FastqDataSource({"path": path})
        rd = src.reader(src.schema())
        rows = []
        for part in rd.partitions():
            for b in rd.read(part):
                rows.extend(b.to_pylist())
        assert rows and all(r["sequence"] for r in rows)
    finally:
        fsio.unregister_opener(path)


def test_pyobj_raw_bytes_and_errors():
    import pytest as _pytest

    from oxbow_spark.sources import fsio

    p = fsio.register_opener(b"hello world")
    assert fsio.exists(p)
    assert fsio.getsize(p) == 11
    with fsio.open_binary(p) as f:
        assert f.read() == b"hello world"
    fsio.unregister_opener(p)
    assert not fsio.exists(p)
    with _pytest.raises(FileNotFoundError, match="driver-side only"):
        fsio.open_binary(p)
    with _pytest.raises(TypeError, match="callable, bytes, or file-like"):
        fsio.register_opener(12345)


def test_pyobj_seekable_file_snapshot(tmp_path):
    """A file-like registered mid-read replays from position 0 and the
    original object's cursor is untouched."""
    from oxbow_spark.sources import fsio

    f = (tmp_path / "x.bin")
    f.write_bytes(b"0123456789")
    fh = open(f, "rb")
    fh.read(4)
    p = fsio.register_opener(fh)
    try:
        assert fh.tell() == 4
        with fsio.open_binary(p) as g:
            assert g.read() == b"0123456789"
    finally:
        fsio.unregister_opener(p)
        fh.close()
