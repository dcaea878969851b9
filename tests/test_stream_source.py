"""Streaming genomic file ingestion (`oxbow_spark/streaming/source.py`).

Beyond the reference (batch-only): every genomic DataSource doubles as a
Structured Streaming source; new files matching the load glob become
micro-batch input, planned by the same batch reader partitions.
"""

from __future__ import annotations

import os
import shutil

import pytest

from tests.corpus import fixtures_dir, needs_checkout

FX = fixtures_dir() + "/"


@pytest.fixture(scope="module")
def gspark(spark):
    from oxbow_spark.sources import register_all

    register_all(spark)
    return spark


def _run_available(gspark, src_glob, fmt, out_dir, ckpt):
    q = (
        gspark.readStream.format(fmt).load(src_glob)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


@needs_checkout
def test_bam_stream_ingests_files_incrementally(gspark, tmp_path):
    d = tmp_path / "runs"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    d.mkdir()
    shutil.copy(FX + "sample.bam", d / "run001.bam")
    shutil.copy(FX + "sample.bam.bai", d / "run001.bam.bai")
    glob = str(d / "*.bam")

    batch_rows = gspark.read.format("bam").load(str(d / "run001.bam")).count()
    _run_available(gspark, glob, "bam", out, ckpt)
    got = gspark.read.parquet(out)
    assert got.count() == batch_rows == 10
    # streamed rows decode identically to the batch scan
    assert (
        sorted(r.qname for r in got.select("qname").collect())
        == sorted(r.qname for r in gspark.read.format("bam")
                  .load(str(d / "run001.bam")).select("qname").collect())
    )

    # a new file lands; restart from the checkpoint → only the new file
    shutil.copy(FX + "sample.bam", d / "run002.bam")
    _run_available(gspark, glob, "bam", out, ckpt)
    assert gspark.read.parquet(out).count() == 2 * batch_rows

    # nothing new → no duplicate re-ingestion
    _run_available(gspark, glob, "bam", out, ckpt)
    assert gspark.read.parquet(out).count() == 2 * batch_rows


@needs_checkout
def test_vcf_stream_with_options(gspark, tmp_path):
    d = tmp_path / "vcfs"
    d.mkdir()
    shutil.copy(FX + "sample.vcf", d / "a.vcf")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        gspark.readStream.format("vcf")
        .option("fields", "chrom,pos,id")
        .option("info_fields", "")          # "" → drop the family entirely
        .option("genotype_fields", "")
        .load(str(d / "*.vcf"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = gspark.read.parquet(out)
    assert got.columns == ["chrom", "pos", "id"]
    assert got.count() == 25


def test_stream_reader_offsets_and_planning(tmp_path):
    # driver-side unit semantics without a running query
    from oxbow_spark.sources.bam import BamDataSource
    from oxbow_spark.streaming.source import GenomicFileStreamReader

    d = tmp_path / "runs"
    d.mkdir()
    shutil.copy(FX + "sample.bam", d / "run001.bam")
    opts = {"path": str(d / "*.bam")}
    ds = BamDataSource(dict(opts))
    r = GenomicFileStreamReader(BamDataSource, opts, ds.schema())
    assert r.initialOffset() == {"wm": "", "v": 2}
    o1 = r.latestOffset()
    # full-path watermark: same-basename files in sibling dirs must not
    # collide (a basename key marked the later one already-seen)
    assert o1 == {"wm": str(d / "run001.bam"), "v": 2}
    parts = r.partitions(r.initialOffset(), o1)
    assert parts and all(p.path.endswith("run001.bam") for p in parts)
    # no new files → empty micro-batch plan
    assert r.partitions(o1, r.latestOffset()) == []
    # second file: only the delta is planned
    shutil.copy(FX + "sample.bam", d / "run002.bam")
    o2 = r.latestOffset()
    assert o2 == {"wm": str(d / "run002.bam"), "v": 2}
    delta = r.partitions(o1, o2)
    assert delta and all(p.path.endswith("run002.bam") for p in delta)
    # executor-side read of a planned partition yields the file's rows
    rows = sum(b.num_rows for b in r.read(delta[0]))
    assert rows > 0
    # watermark never regresses even if files vanish
    (d / "run002.bam").unlink()
    assert r.latestOffset() == {"wm": str(d / "run002.bam"), "v": 2}


def test_v1_basename_watermark_migrates(tmp_path):
    """Resuming from a pre-v2 checkpoint (basename-keyed watermark) must
    not silently skip files: a v1 offset like {"wm": "run002.bam"}
    compared against full-path keys would fail lo < key for every path
    under '/...' (ADVICE r13, medium). partitions() detects the missing
    "v" and migrates against the current listing."""
    from oxbow_spark.sources.bam import BamDataSource
    from oxbow_spark.streaming.source import GenomicFileStreamReader

    d = tmp_path / "runs"
    d.mkdir()
    shutil.copy(FX + "sample.bam", d / "run001.bam")
    shutil.copy(FX + "sample.bam", d / "run002.bam")
    shutil.copy(FX + "sample.bam", d / "run003.bam")
    opts = {"path": str(d / "*.bam")}
    ds = BamDataSource(dict(opts))
    r = GenomicFileStreamReader(BamDataSource, opts, ds.schema())
    # v1 checkpoint said run001+run002 were processed
    v1 = {"wm": "run002.bam"}
    delta = r.partitions(v1, r.latestOffset())
    assert delta and all(p.path.endswith("run003.bam") for p in delta)
    # a v1 watermark naming a since-deleted file: remaining files are
    # all unseen under v1 order, so everything streams
    (d / "run001.bam").unlink()
    (d / "run002.bam").unlink()
    older = {"wm": "run000.bam"}
    delta = r.partitions(older, r.latestOffset())
    assert delta and all(p.path.endswith("run003.bam") for p in delta)
    # empty v1 watermark == fresh start
    assert r.partitions({"wm": ""}, {"wm": ""}) == []


def test_v1_migration_fails_loudly_when_lossy(tmp_path):
    """A multi-directory glob where an UNSEEN file sorts (by full path)
    below a v1-seen one cannot be represented by a single v2 watermark —
    the reader must raise, not plan a lossy batch."""
    import pytest

    from oxbow_spark.sources.bam import BamDataSource
    from oxbow_spark.streaming.source import GenomicFileStreamReader

    d = tmp_path / "runs"
    (d / "r1").mkdir(parents=True)
    (d / "r2").mkdir()
    # v1 saw up to basename "bbb.bam" (in r2); "zzz.bam" in r1 is UNSEEN
    # (basename sorts after the watermark) but its full path sorts
    # before r2/bbb.bam — no single v2 watermark keeps it streamable
    shutil.copy(FX + "sample.bam", d / "r2" / "bbb.bam")
    shutil.copy(FX + "sample.bam", d / "r1" / "zzz.bam")
    opts = {"path": str(d / "*" / "*.bam")}
    ds = BamDataSource(dict(opts))
    with pytest.warns(UserWarning, match="spans directories"):
        r = GenomicFileStreamReader(BamDataSource, opts, ds.schema())
    with pytest.raises(ValueError, match="cannot migrate"):
        r.partitions({"wm": "bbb.bam"}, r.latestOffset())


def test_unversioned_fullpath_watermark_not_remigrated(tmp_path):
    """ADVICE r14 (high): the shipped format immediately BEFORE the "v"
    field wrote FULL-PATH watermarks with no version key. Feeding such
    an offset through the basename migration would find seen=[] (every
    basename sorts above a '/...'-prefixed wm), reset the watermark to
    "", and re-stream the whole directory as duplicates. A separator in
    the key means it cannot be a basename — it must pass through
    unchanged."""
    from oxbow_spark.sources.bam import BamDataSource
    from oxbow_spark.streaming.source import GenomicFileStreamReader

    d = tmp_path / "runs"
    d.mkdir()
    shutil.copy(FX + "sample.bam", d / "run001.bam")
    shutil.copy(FX + "sample.bam", d / "run002.bam")
    opts = {"path": str(d / "*.bam")}
    ds = BamDataSource(dict(opts))
    r = GenomicFileStreamReader(BamDataSource, opts, ds.schema())
    # interim checkpoint: full path, no "v" — run001 was processed
    interim = {"wm": str(d / "run001.bam")}
    delta = r.partitions(interim, r.latestOffset())
    assert delta and all(p.path.endswith("run002.bam") for p in delta)
    # nothing new past run002 — must NOT replan the directory
    assert r.partitions({"wm": str(d / "run002.bam")}, r.latestOffset()) == []

    # same for mtime order: interim key is "mtime|<abs path>", no "v"
    opts_mt = {"path": str(d / "*.bam"), "stream_order": "mtime"}
    rm = GenomicFileStreamReader(BamDataSource, opts_mt, ds.schema())
    latest = rm.latestOffset()
    assert latest["wm"].split("|", 1)[1] == max(
        str(d / "run001.bam"), str(d / "run002.bam"),
        key=lambda p: (os.path.getmtime(p), p))
    interim_mt = {"wm": latest["wm"]}
    assert rm.partitions(interim_mt, rm.latestOffset()) == []


def test_stream_order_mtime(tmp_path):
    from oxbow_spark.sources.bam import BamDataSource
    from oxbow_spark.streaming.source import GenomicFileStreamReader, _file_key

    d = tmp_path / "runs"
    d.mkdir()
    shutil.copy(FX + "sample.bam", d / "zzz.bam")
    opts = {"path": str(d / "*.bam"), "stream_order": "mtime"}
    ds = BamDataSource({"path": str(d / "*.bam")})
    r = GenomicFileStreamReader(BamDataSource, opts, ds.schema())
    o1 = r.latestOffset()
    # an "older-named" file arriving later still advances the watermark
    import time

    time.sleep(0.01)
    shutil.copy(FX + "sample.bam", d / "aaa.bam")
    o2 = r.latestOffset()
    assert o2["wm"] > o1["wm"]
    delta = r.partitions(o1, o2)
    assert delta and all(p.path.endswith("aaa.bam") for p in delta)
    with pytest.raises(ValueError):
        GenomicFileStreamReader(
            BamDataSource, {"path": str(d), "stream_order": "bogus"}, None)


def test_stream_sink_bam_to_sam(gspark, tmp_path):
    """Full streaming loop: BAM files land → transform → SAM parts out."""
    from oxbow_spark.sources.bam import BamDataSource

    d = tmp_path / "in"
    d.mkdir()
    shutil.copy(FX + "sample.bam", d / "run001.bam")
    hdr = "\n".join(
        BamDataSource({"path": FX + "sample.bam"}).header().lines)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        gspark.readStream.format("bam").load(str(d / "*.bam"))
        .where("flag = 0 or flag = 16")
        .writeStream.format("sam")
        .option("path", out).option("header", hdr)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    import glob as _glob

    parts = _glob.glob(out + "/*.sam")
    assert parts
    back = gspark.read.format("sam").load(out + "/*.sam")
    want = (gspark.read.format("bam").load(str(d / "run001.bam"))
            .where("flag = 0 or flag = 16"))
    assert back.count() == want.count() > 0
    # second file lands -> only the delta appends
    shutil.copy(FX + "sample.bam", d / "run002.bam")
    q2 = (
        gspark.readStream.format("bam").load(str(d / "*.bam"))
        .where("flag = 0 or flag = 16")
        .writeStream.format("sam")
        .option("path", out).option("header", hdr)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    back2 = gspark.read.format("sam").load(out + "/*.sam")
    assert back2.count() == 2 * want.count()


def test_stream_sink_bam_with_index_sidecars(gspark, tmp_path):
    """Streaming BAM sink with index='bai': every micro-batch part gets
    its index sidecar during the write, each part region-queryable and
    idxstats-readable immediately."""
    import glob as _glob

    from oxbow_spark.sources.bam import BamDataSource, idxstats

    d = tmp_path / "in"
    d.mkdir()
    shutil.copy(FX + "sample.bam", d / "run001.bam")
    hdr = "\n".join(
        BamDataSource({"path": FX + "sample.bam"}).header().lines)
    out = str(tmp_path / "out")
    q = (
        gspark.readStream.format("bam").load(str(d / "*.bam"))
        .where("rname is not null")
        .writeStream.format("bam")
        .option("path", out).option("header", hdr)
        .option("index", "bai")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    parts = _glob.glob(out + "/*.bam")
    assert parts
    for p in parts:
        assert os.path.exists(p + ".bai"), p
    total_mapped = 0
    for p in parts:
        rows = idxstats(p)
        total_mapped += sum(r[2] for r in rows)
    want = (gspark.read.format("bam").load(FX + "sample.bam")
            .where("rname is not null and flag % 8 < 4").count())
    assert total_mapped == want


@needs_checkout
def test_stream_sink_vcf_with_index_sidecars(gspark, tmp_path):
    """Streaming bgzf VCF sink with index='tbi' (and a csi twin):
    every micro-batch part gets its tabix/CSI sidecar during the
    write, and each just-written part resolves region queries through
    that sidecar immediately — the VCF mirror of the BAM .bai
    sidecar path."""
    import glob as _glob

    d = tmp_path / "in"
    d.mkdir()
    shutil.copy(FX + "sample.vcf", d / "run001.vcf")
    with open(FX + "sample.vcf") as f:
        hdr = "".join(ln for ln in f if ln.startswith("#"))
    want = gspark.read.format("vcf").load(FX + "sample.vcf").collect()

    for kind, suffix in (("tbi", ".tbi"), ("csi", ".csi")):
        out = str(tmp_path / f"out_{kind}")
        q = (
            gspark.readStream.format("vcf").load(str(d / "*.vcf"))
            .writeStream.format("vcf")
            .option("path", out).option("header", hdr)
            .option("compression", "bgzf").option("index", kind)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{kind}"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        parts = _glob.glob(out + "/*.vcf.gz")
        assert parts, out
        for p in parts:
            assert os.path.exists(p + suffix), p
        # the union of the parts is the input...
        back = gspark.read.format("vcf").load(out + "/*.vcf.gz")
        assert back.count() == len(want)
        # ...and each part answers region queries through its sidecar
        total = 0
        for p in parts:
            got = (gspark.read.format("vcf")
                   .option("regions", "1:1-800000").load(p))
            total += got.count()
        assert total == sum(1 for r in want
                            if r.chrom == "1" and r.pos <= 800000)
        assert total > 0


def test_stream_sink_bcf_with_csi_sidecars(gspark, tmp_path):
    """Streaming BCF sink with index='csi': per-micro-batch .csi
    sidecars, each part region-queryable straight away."""
    import glob as _glob

    from tests.bcf_synth import write_bcf

    d = tmp_path / "in"
    d.mkdir()
    src = str(d / "run001.bcf")
    write_bcf(src, 120)
    import struct

    from oxbow_spark.sources.bcf import open_bcf

    with open_bcf(src) as r:
        r.read(5)
        (ln,) = struct.unpack("<I", r.read(4))
        hdr = r.read(ln).split(b"\x00", 1)[0].decode()
    want = gspark.read.format("bcf").load(src).collect()
    out = str(tmp_path / "out_bcf")
    q = (
        gspark.readStream.format("bcf").load(str(d / "*.bcf"))
        .writeStream.format("bcf")
        .option("path", out).option("header", hdr)
        .option("index", "csi")
        .option("checkpointLocation", str(tmp_path / "ckpt_bcf"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    parts = _glob.glob(out + "/*.bcf")
    assert parts
    for p in parts:
        assert os.path.exists(p + ".csi"), p
    chrom = want[0].chrom
    hi = max(r.pos for r in want if r.chrom == chrom) // 2
    total = sum(
        gspark.read.format("bcf")
        .option("regions", f"{chrom}:1-{hi}").load(p).count()
        for p in parts)
    assert total == sum(1 for r in want if r.chrom == chrom and r.pos <= hi)
    assert total > 0


def test_same_basename_in_sibling_dirs_both_stream(tmp_path):
    """Regression (round 13): a glob spanning subdirectories yields
    distinct files with EQUAL basenames; the old basename watermark
    marked the later one already-seen and silently dropped it."""
    from oxbow_spark.sources.bam import BamDataSource
    from oxbow_spark.streaming.source import GenomicFileStreamReader

    for run in ("r1", "r2"):
        (tmp_path / run).mkdir()
    shutil.copy(FX + "sample.bam", tmp_path / "r1" / "sample.bam")
    opts = {"path": str(tmp_path / "*" / "*.bam")}
    ds = BamDataSource({"path": str(tmp_path / "r1" / "sample.bam")})
    r = GenomicFileStreamReader(BamDataSource, opts, ds.schema())
    o1 = r.latestOffset()
    assert r.partitions(r.initialOffset(), o1)
    # the same-named file arrives in a SIBLING dir — it must be planned
    shutil.copy(FX + "sample.bam", tmp_path / "r2" / "sample.bam")
    o2 = r.latestOffset()
    assert o2["wm"] > o1["wm"]
    delta = r.partitions(o1, o2)
    assert delta and all("/r2/" in p.path for p in delta)
