"""The one indexed-BGZF read path, driven in one process without Spark:
`bgzf.plan_ranges` turns a .bai/.tbi/.csi into partition ranges, and
`BgzfReader.blocks` with `bgzf.frame_records` cuts records out of the
inflated blocks of a range.

- Over every plan, the partitions of BAM, BCF (BGZF and uncompressed),
  VCF.gz and BED.gz read every record exactly once, in file order, on a
  corpus with small BGZF blocks, so records and lines cross block
  boundaries. The truth is the plain-text twin of the same records.
- The framer ends a range in the middle of a block and at a block start,
  stops at ``limit`` with and without regions, closes batches at
  ``MAX_BATCH_BYTES``, and finds the BC subfield wherever it sits among
  the gzip extra subfields.
- ``partitions()`` plans the same ranges as the per-format planners that
  `plan_ranges` replaced (`PLAN_DIGESTS`).
"""

from __future__ import annotations

import gzip
import hashlib
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pytest

from perfbench import inputs as perf_inputs
from tests.corpus import _Bgzf, generated_dir, write_corpus
from tests.bcf_synth import BGZF_EOF

BLOCK = 1500  # BGZF payload per block of the small-block corpus


def _reader(fmt: str, path: str, opts: dict):
    from oxbow_spark.sources.register import DATASOURCES

    src = DATASOURCES[fmt]({"path": path, **opts})
    return src.reader(src.schema())


def _scan(fmt: str, path: str, opts: dict, slow: bool = False):
    """(table, partition count) of a scan, one partition after another."""
    rd = _reader(fmt, path, opts)
    if slow:
        rd.codec.parse_table = lambda data: None  # the line loop
    parts = rd.partitions()
    batches = [b for p in parts for b in rd.read(p)]
    return pa.Table.from_batches(batches, schema=rd._arrow_schema), len(parts)


@pytest.fixture(scope="module")
def small(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("small-blocks"))
    write_corpus(d, block=BLOCK)
    # the same BCF uncompressed: one whole-file partition, framed from
    # plain file reads
    with open(f"{d}/sample.bcf", "rb") as f:
        raw = gzip.decompress(f.read())
    with open(f"{d}/raw.bcf", "wb") as f:
        f.write(raw)
    return d


# ------------------------------------------------ every record once, in order

BAM_FIELDS = "qname,flag,rname,pos,mapq,cigar,rnext,pnext,tlen,seq,qual,end"


@pytest.mark.parametrize("chunksize", ["1", "20000", "150000", None])
def test_bam_partitions_read_each_record_once(small, chunksize):
    opts = {"fields": BAM_FIELDS, **({"chunksize": chunksize} if chunksize else {})}
    got, n_parts = _scan("bam", f"{small}/sample.bam", opts)
    want, _ = _scan("sam", f"{small}/sample.sam", {"fields": BAM_FIELDS})
    assert got.equals(want)
    assert n_parts > 1 or chunksize is None


@pytest.mark.parametrize("name,opts", [
    ("sample.bcf", {"chunksize": "1"}),
    ("sample.bcf", {"chunksize": "20000"}),
    ("sample.bcf", {}),
    ("raw.bcf", {}),
    ("raw.bcf", {"batch_size": "7"}),
])
def test_bcf_partitions_read_each_record_once(small, name, opts):
    got, n_parts = _scan("bcf", f"{small}/{name}", opts)
    want, _ = _scan("vcf", f"{small}/sample.vcf", {})
    assert got.equals(want)
    assert n_parts > 1 or opts.get("chunksize") is None


@pytest.mark.parametrize("fmt,name", [("vcf", "sample.vcf"), ("bed", "sample.bed")])
@pytest.mark.parametrize("partition_bytes", ["1", "10000", None])
@pytest.mark.parametrize("slow", [False, True], ids=["fast", "lines"])
def test_tabix_text_partitions_read_each_line_once(small, fmt, name,
                                                   partition_bytes, slow):
    opts = {"partition_bytes": partition_bytes} if partition_bytes else {}
    if fmt == "vcf":
        opts.update(info_fields="", genotype_fields="")
    got, n_parts = _scan(fmt, f"{small}/{name}.gz", opts, slow)
    want, _ = _scan(fmt, f"{small}/{name}", {k: v for k, v in opts.items()
                                             if k != "partition_bytes"})
    assert got.equals(want)
    assert n_parts > 1 or partition_bytes is None


@pytest.mark.parametrize("fmt,name,region", [
    ("bam", "sample.bam", "chr1:30000-90000;chr2:1-5000"),
    ("bcf", "sample.bcf", "chr1:30000-90000;chr2:1-5000"),
    ("vcf", "sample.vcf.gz", "chr1:30000-90000;chr2:1-5000"),
])
@pytest.mark.parametrize("limit", ["3", "100000"])
def test_limit_per_partition(small, fmt, name, region, limit):
    """``limit`` caps every partition's rows at a prefix of its rows, with
    regions (the decoder filters, then stops) and without (the framer
    stops)."""
    for regions in (None, region):
        opts = {"chunksize": "20000", "partition_bytes": "20000"}
        if regions:
            opts["regions"] = regions
        rd = _reader(fmt, f"{small}/{name}", opts)
        rd_lim = _reader(fmt, f"{small}/{name}", {**opts, "limit": limit})
        parts = rd.partitions()
        assert len(parts) > 1
        for p in parts:
            full = pa.Table.from_batches(list(rd.read(p)), schema=rd._arrow_schema)
            cut = pa.Table.from_batches(list(rd_lim.read(p)), schema=rd._arrow_schema)
            assert cut.equals(full.slice(0, int(limit)))


def test_max_batch_bytes_closes_batches(small, monkeypatch):
    from oxbow_spark.sources import bgzf

    whole = {f: _scan(f, f"{small}/{n}", {})[0]
             for f, n in (("bam", "sample.bam"), ("bcf", "sample.bcf"))}
    monkeypatch.setattr(bgzf, "MAX_BATCH_BYTES", 5000)
    for fmt, name in (("bam", "sample.bam"), ("bcf", "sample.bcf")):
        rd = _reader(fmt, f"{small}/{name}", {})
        batches = [b for p in rd.partitions() for b in rd.read(p)]
        assert len(batches) > 20
        assert pa.Table.from_batches(batches).equals(whole[fmt])


# ------------------------------------------------------------ the framer


def _records(rng, n: int, first: int = 0) -> list[bytes]:
    """Length-prefixed records (``<i`` body length) whose bodies name
    their own index; some are longer than a block."""
    out = []
    for i in range(first, first + n):
        ln = int(rng.integers(4, 3 * BLOCK)) if i % 7 else 96
        out.append(struct.pack("<ii", ln, i) + bytes(ln - 4))
    return out


def _frame(path: str, vstart: int, vend, **kw) -> list[int]:
    from oxbow_spark.sources.bgzf import BgzfReader, frame_records

    got = []
    with BgzfReader(path) as r:
        for buf, starts, heads in frame_records(r.blocks(vstart, vend), "<i",
                                                kw.get("batch_size", 1000),
                                                kw.get("limit", -1)):
            assert len(starts) == len(heads)
            got += [struct.unpack_from("<i", buf, s)[0] for s in starts]
    return got


def test_frame_ranges_end_mid_block_and_at_block_start(tmp_path):
    recs = [struct.pack("<ii", 96, i) + bytes(92) for i in range(60)]
    recs += _records(np.random.default_rng(5), 200, first=60)
    stream = _Bgzf(b"HEAD", b"".join(recs), BLOCK)
    path = str(tmp_path / "recs.bgzf")
    with open(path, "wb") as f:
        f.write(stream.data())
    vs, _ = stream.offsets(recs)
    # 100-byte records: record 15 starts at a block start (uoffset 0),
    # record 16 in the middle of a block
    assert vs[15] & 0xFFFF == 0 and vs[16] & 0xFFFF != 0
    size = os.path.getsize(path)
    cuts = [0, 3, 15, 16, 40, 61, 100, 180, len(recs)]
    for a, b in zip(cuts, cuts[1:]):
        end = vs[b] if b < len(recs) else size << 16
        assert _frame(path, vs[a], end) == list(range(a, b))
    assert _frame(path, vs[16], vs[16]) == []
    assert _frame(path, vs[0], None, limit=25, batch_size=10) == list(range(25))
    assert _frame(path, vs[0], None, limit=0) == []


def test_frame_batches_close_at_max_batch_bytes(tmp_path, monkeypatch):
    from oxbow_spark.sources import bgzf

    recs = _records(np.random.default_rng(6), 300)
    stream = _Bgzf(b"", b"".join(recs), BLOCK)
    path = str(tmp_path / "recs.bgzf")
    with open(path, "wb") as f:
        f.write(stream.data())
    monkeypatch.setattr(bgzf, "MAX_BATCH_BYTES", 10_000)
    longest = max(len(r) for r in recs)
    with bgzf.BgzfReader(path) as r:
        batches = list(bgzf.frame_records(r.blocks(0), "<i", 10**6))
    assert len(batches) > 10
    assert all(len(buf) < 10_000 + longest for buf, _, _ in batches)
    assert sum(len(s) for _, s, _ in batches) == len(recs)


def test_frame_rejects_negative_length(tmp_path):
    path = str(tmp_path / "neg.bgzf")
    body = struct.pack("<ii", 4, 0) + struct.pack("<i", -4) + bytes(64)
    with open(path, "wb") as f:
        f.write(_Bgzf(b"", body, BLOCK).data())
    with pytest.raises(ValueError, match="negative record length"):
        _frame(path, 0, None)


def _block_bc_second(data: bytes) -> bytes:
    """A BGZF block whose gzip extra field holds another subfield before
    BC, so BSIZE is not at byte 16."""
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    cdata = co.compress(data) + co.flush()
    extra = b"XY" + struct.pack("<H", 4) + b"\xff\xff\xff\xff"
    bsize = 12 + len(extra) + 6 + len(cdata) + 8
    extra += b"BC" + struct.pack("<HH", 2, bsize - 1)
    head = b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff" + struct.pack("<H", len(extra))
    return head + extra + cdata + struct.pack(
        "<II", zlib.crc32(data) & 0xFFFFFFFF, len(data))


def test_frame_finds_bc_after_other_subfields(tmp_path):
    recs = _records(np.random.default_rng(7), 40)
    body = b"".join(recs)
    path = str(tmp_path / "xy.bgzf")
    with open(path, "wb") as f:
        f.writelines(_block_bc_second(body[i:i + BLOCK])
                     for i in range(0, len(body), BLOCK))
        f.write(BGZF_EOF)
    assert _frame(path, 0, os.path.getsize(path) << 16) == list(range(40))


# --------------------------------------------------- plans are unchanged


def _plan(fmt: str, path: str, opts: dict) -> list[tuple]:
    """A reader's planned partitions, without their paths."""
    out = []
    for p in _reader(fmt, path, opts).partitions():
        if hasattr(p, "vstart"):
            out.append((p.vstart, p.vend, getattr(p, "regions", None)))
        else:
            out.append((p.start, p.end, p.vpos))
    return out


REGIONS = ["chr1:1-50000", "chr1:1-1000;chr1:200000-256000;chr3", "chrX:1-10"]
CORPUS_CASES = (
    [("bam", "sample.bam", o) for o in (
        {}, {"chunksize": "1"}, {"chunksize": "100000"}, {"regions": "*"},
        {"regions": "chr2:5000-6000;*"}, *({"regions": r} for r in REGIONS))]
    + [("bcf", "sample.bcf", o) for o in (
        {}, {"chunksize": "1"}, {"chunksize": "30000"},
        *({"regions": r} for r in REGIONS))]
    + [(f, n, o) for f, n in (("vcf", "sample.vcf.gz"), ("bed", "sample.bed.gz"))
       for o in ({}, {"partition_bytes": "1"}, {"partition_bytes": "40000"},
                 *({"regions": r} for r in REGIONS))]
    + [("vcf", "sample.vcf.gz", {"index": "sample.vcf.gz.csi", "regions": REGIONS[1]})]
)
PERF_CASES = [
    ("bam", "reads.bam", o) for o in (
        {}, {"chunksize": "60000"}, {"regions": "chr1:1000000-8000000"},
        {"regions": "chr2:100000-200000;chr4"})
] + [
    (f, n, o) for f, n, k in (("vcf", "sites.vcf.gz", "partition_bytes"),
                              ("bcf", "sites.bcf", "chunksize"))
    for o in ({}, {k: "20000"}, {"regions": "chr1:1000000-8000000"},
              {"regions": "chr2:100000-200000;chr4"})
]


def _digest(plans: list) -> str:
    return hashlib.sha256(repr(plans).encode()).hexdigest()[:16]


def _corpus_plans(d: str) -> list:
    out = []
    for fmt, name, opts in CORPUS_CASES:
        if "index" in opts:
            opts = {**opts, "index": f"{d}/{opts['index']}"}
        out.append(_plan(fmt, f"{d}/{name}", opts))
    return out


def _perf_plans(d: str) -> list:
    bam = perf_inputs.bam_truth(3, 20_000)
    perf_inputs.write_bam(f"{d}/reads.bam", bam)
    var = perf_inputs.variant_truth(3, 4_000)
    perf_inputs.write_vcf(f"{d}/sites.vcf.gz", var)
    perf_inputs.write_bcf(f"{d}/sites.bcf", var)
    return [_plan(fmt, f"{d}/{name}", opts) for fmt, name, opts in PERF_CASES]


#: sha256[:16] of the repr of the plan lists above, as the per-format
#: BAM, BCF and text planners made them before `plan_ranges` replaced them
PLAN_DIGESTS = {"corpus": "cc1c9a4a9c6468eb", "perfbench": "f0f5e5208e333aac"}


def test_plans_unchanged(tmp_path):
    corpus = _corpus_plans(generated_dir())
    perf = _perf_plans(str(tmp_path))
    assert sum(len(p) > 1 for p in corpus + perf) >= 10
    assert {"corpus": _digest(corpus), "perfbench": _digest(perf)} == PLAN_DIGESTS
