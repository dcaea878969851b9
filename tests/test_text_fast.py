"""SAM/VCF vectorized fast paths (pyarrow.csv + arrow kernels):
byte-for-byte equality with the per-line parsers across projections,
coords, regions and partitioning — plus proof the fast path engages and
that struct-bearing scans (tags / INFO / genotypes) fall back."""

from __future__ import annotations

import pytest

from oxbow_spark.sources.sam import SamDataSource
from oxbow_spark.sources.vcf import VcfDataSource
from tests.corpus import fixtures_dir, needs_checkout

FIX = fixtures_dir()
SAM = f"{FIX}/sample.sam"
VCF = f"{FIX}/sample.vcf"


def _collect(ds, slow: bool = False):
    reader = ds.reader(ds.schema())
    if slow:
        reader.codec.parse_table = lambda data: None  # force line loop
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(tuple(d.values()) for d in batch.to_pylist())
    return rows


SAM_CONFIGS = [
    {},
    {"coords": "01"},
    {"fields": "qname,rname,pos,end"},
    {"regions": "chr1:10-40"},
    {"limit": "3"},
]


@pytest.mark.parametrize("opts", SAM_CONFIGS,
                         ids=lambda o: ",".join(f"{k}={v}" for k, v in o.items()) or "default")
def test_sam_fast_equals_slow(opts):
    fast = _collect(SamDataSource({"path": SAM, **opts}))
    slow = _collect(SamDataSource({"path": SAM, **opts}), slow=True)
    assert fast == slow, opts
    assert len(fast) > 0


VCF_CONFIGS = [
    {"info_fields": "", "genotype_fields": ""},
    {"info_fields": "", "genotype_fields": "", "coords": "01"},
    {"info_fields": "", "genotype_fields": "", "fields": "chrom,pos,alt,filter"},
    {"info_fields": "", "genotype_fields": "", "limit": "5"},
]


@pytest.mark.parametrize("opts", VCF_CONFIGS,
                         ids=lambda o: ",".join(f"{k}={v}" for k, v in o.items()) or "default")
def test_vcf_fast_equals_slow(opts):
    fast = _collect(VcfDataSource({"path": VCF, **opts}))
    slow = _collect(VcfDataSource({"path": VCF, **opts}), slow=True)
    assert fast == slow, opts
    assert len(fast) > 0


def test_vcf_region_fast_equals_slow():
    # region over the fixture's actual contig span
    base = {"info_fields": "", "genotype_fields": ""}
    slow_all = _collect(VcfDataSource({"path": VCF, **base}), slow=True)
    chrom, pos = slow_all[0][0], slow_all[0][1]
    opts = {**base, "regions": f"{chrom}:{max(1, pos - 1)}-{pos + 100000}"}
    fast = _collect(VcfDataSource({"path": VCF, **opts}))
    slow = _collect(VcfDataSource({"path": VCF, **opts}), slow=True)
    assert fast == slow
    assert len(fast) > 0


def test_sam_star_region_selects_only_unplaced_rname(tmp_path):
    """'*' selects the records whose RNAME is '*', with or without tags
    (the tag scan takes the line loop): a record with an RNAME and POS 0
    is not one of them."""
    p = tmp_path / "star.sam"
    p.write_text("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000\n"
                 "r1\t4\tchr1\t0\t0\t*\t*\t0\t0\tACGT\tIIII\tNM:i:0\n"
                 "r2\t4\t*\t0\t0\t*\t*\t0\t0\tACGT\tIIII\tNM:i:1\n")
    for opts in ({}, {"tags": "scan"}):
        ds = SamDataSource({"path": str(p), "regions": "*", **opts})
        assert [row[0] for row in _collect(ds)] == ["r2"], opts


def test_sam_fast_path_engages():
    ds = SamDataSource({"path": SAM})
    reader = ds.reader(ds.schema())

    def boom(line):
        raise AssertionError("line parser must not run on the fast path")

    reader.codec.parse_line = boom
    rows = []
    for part in reader.partitions():
        rows.extend(b.num_rows for b in reader.read(part))
    assert sum(rows) > 0


def test_vcf_fast_path_engages():
    ds = VcfDataSource({"path": VCF, "info_fields": "", "genotype_fields": ""})
    reader = ds.reader(ds.schema())

    def boom(line):
        raise AssertionError("line parser must not run on the fast path")

    reader.codec.parse_line = boom
    rows = []
    for part in reader.partitions():
        rows.extend(b.num_rows for b in reader.read(part))
    assert sum(rows) > 0


def test_struct_scans_fall_back():
    # SAM tag scans need per-record typed parsing: parse_table must hand
    # over (None), not mis-parse. VCF struct scans are vectorized as of
    # round 4 but still hand over empty partitions (the line loop emits
    # the empty batch with the right schema).
    sam = SamDataSource({"path": SAM, "tags": "scan"})
    assert sam.reader(sam.schema()).codec.parse_table(b"") is None
    vcf = VcfDataSource({"path": VCF})  # default: INFO + genotypes on
    assert vcf.reader(vcf.schema()).codec.parse_table(b"") is None


def test_sam_split_partitions_fast_equals_whole(tmp_path):
    # big synthetic SAM split into byte-range partitions
    import random

    rng = random.Random(5)
    p = tmp_path / "big.sam"
    lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000", "@SQ\tSN:chr2\tLN:100000"]
    for i in range(4000):
        chrom = f"chr{1 + i % 2}"
        pos = 1 + (i * 17) % 90000
        cig = rng.choice(["50M", "10M2D38M", "5S45M", "*", "20M1000N20M"])
        mapped = cig != "*"
        lines.append("\t".join([
            f"r{i}", str(16 if i % 3 else 0),
            chrom if mapped else "*", str(pos if mapped else 0),
            str(255 if i % 7 == 0 else i % 60), cig,
            "=" if i % 5 == 0 else "*", str(pos + 100 if i % 5 == 0 else 0),
            "0", "ACGT" * 5, "IIII" * 5,
        ]))
    p.write_text("\n".join(lines) + "\n")
    whole = _collect(SamDataSource({"path": str(p)}))
    split = _collect(SamDataSource({"path": str(p), "partition_bytes": "16384"}))
    slow = _collect(SamDataSource({"path": str(p)}), slow=True)
    assert sorted(split) == sorted(whole)
    assert whole == slow
    assert len(whole) == 4000
    # unmapped selector + mapped region over the synthetic file
    for regions in ("*", "chr2:1-30000", "chr1:100-5000;*"):
        f = _collect(SamDataSource({"path": str(p), "regions": regions}))
        s = _collect(SamDataSource({"path": str(p), "regions": regions}), slow=True)
        assert f == s, regions
        assert len(f) > 0, regions


# ------------------------------------------------------------- GTF / GFF

GXF_CONFIGS = [
    {},
    {"coords": "01"},
    {"fields": "seqid,start,end,type"},
    {"limit": "4"},
]


@pytest.mark.parametrize("opts", GXF_CONFIGS,
                         ids=lambda o: ",".join(f"{k}={v}" for k, v in o.items()) or "default")
def test_gxf_fast_equals_slow(opts):
    from oxbow_spark.sources.gxf import GffDataSource, GtfDataSource

    for cls, path in [(GtfDataSource, f"{FIX}/sample.gtf"),
                      (GffDataSource, f"{FIX}/sample.gff")]:
        fast = _collect(cls({"path": path, **opts}))
        slow = _collect(cls({"path": path, **opts}), slow=True)
        assert fast == slow, (cls.name(), opts)
        assert len(fast) > 0


def test_gxf_region_fast_equals_slow():
    from oxbow_spark.sources.gxf import GtfDataSource

    base = {"path": f"{FIX}/sample.gtf"}
    all_rows = _collect(GtfDataSource(base), slow=True)
    seqid, start = all_rows[0][0], all_rows[0][3]
    opts = {**base, "regions": f"{seqid}:{start}-{start + 10000}"}
    fast = _collect(GtfDataSource(opts))
    slow = _collect(GtfDataSource(opts), slow=True)
    assert fast == slow and len(fast) > 0


def test_gxf_attribute_scan_falls_back():
    from oxbow_spark.sources.gxf import GtfDataSource

    ds = GtfDataSource({"path": f"{FIX}/sample.gtf", "attributes": "scan"})
    rd = ds.reader(ds.schema())
    assert rd.codec.parse_table(b"") is None
    # and the attribute scan itself still works end-to-end
    rows = _collect(ds)
    assert rows and isinstance(rows[0][-1], dict)


# ----------------------------------------------------------------- FASTQ

def test_fastq_fast_equals_slow():
    import pyarrow as pa

    from oxbow_spark.sources.sequence import FastqDataSource

    def scan(path, opts=None, slow=False):
        src = FastqDataSource({"path": path, **(opts or {})})
        rd = src.reader(src.schema())
        if slow:
            rd._read_fast = lambda p: None  # force line loop
        out = []
        for part in rd.partitions():
            out.extend(rd.read(part))
        return pa.Table.from_batches(out)

    for path in (f"{FIX}/sample.fastq", f"{FIX}/sample.fastq.gz"):
        for opts in ({}, {"fields": "name,sequence"}, {"limit": "2"},
                     {"batch_size": "3"}):
            fast = scan(path, opts)
            slow = scan(path, opts, slow=True)
            assert fast.equals(slow), (path, opts)
            assert fast.num_rows > 0


def test_fastq_fast_malformed_falls_back(tmp_path):
    from oxbow_spark.sources.sequence import FastqDataSource

    p = tmp_path / "bad.fastq"
    p.write_text("@r1\nACGT\nOOPS\nIIII\n")  # '+' line missing
    src = FastqDataSource({"path": str(p)})
    rd = src.reader(src.schema())
    with pytest.raises(ValueError, match="malformed FASTQ"):
        for part in rd.partitions():
            list(rd.read(part))


# ---------------------------------------------------------------------------
# Vectorized INFO/genotype struct scans (round-4): fast ≡ slow on a
# synthetic corpus exercising the edge encodings, plus engage/fallback
# proofs.
# ---------------------------------------------------------------------------

VCF_SYNTH_HEADER = """##fileformat=VCFv4.3
##FILTER=<ID=q10,Description="low">
##INFO=<ID=DP,Number=1,Type=Integer,Description="d">
##INFO=<ID=AF,Number=A,Type=Float,Description="f">
##INFO=<ID=DB,Number=0,Type=Flag,Description="flag">
##INFO=<ID=NM,Number=1,Type=String,Description="s">
##INFO=<ID=CH,Number=1,Type=Character,Description="c">
##FORMAT=<ID=GT,Number=1,Type=String,Description="gt">
##FORMAT=<ID=DP,Number=1,Type=Integer,Description="d">
##FORMAT=<ID=GL,Number=.,Type=Float,Description="gl">
##FORMAT=<ID=HQ,Number=2,Type=Integer,Description="hq">
##contig=<ID=chr1,length=1000000>
##contig=<ID=chr2,length=1000000>
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2\ts3
"""


def _write_synth_vcf(path, n=600):
    rows = []
    for i in range(n):
        chrom = f"chr{1 + i % 2}"
        pos = 100 + i * 3
        vid = "." if i % 7 == 0 else f"rs{i};rs{i}x" if i % 11 == 0 else f"rs{i}"
        ref = "ACGT"[i % 4]
        alt = ["T", "T,G", "."][i % 3]
        qual = "." if i % 5 == 0 else f"{(i % 80) / 2.0}"
        filt = ["PASS", "q10", ".", "q10;q10"][i % 4]
        info_parts = []
        if i % 3 != 2:
            info_parts.append(f"DP={30 + i % 50}")
        if i % 4 == 1:
            info_parts.append("AF=0.5,0.25" if i % 2 else "AF=0.125")
        if i % 5 == 2:
            info_parts.append("DB")
        if i % 6 == 3:
            info_parts.append(f"NM=v{i}")
        if i % 9 == 4:
            info_parts.append("CH=x")
        if i % 13 == 5:
            info_parts.append("AF=.")          # explicit missing
        if i % 17 == 6:
            info_parts.append("DP=.")
        info = ";".join(info_parts) if info_parts else "."
        # FORMAT layout varies: full, reordered, GT-only, missing GL
        fmt, cells = {
            0: ("GT:DP:GL:HQ",
                [f"0/1:{10 + i % 9}:-0.1,-{(i % 7) / 10}:{i % 5},{i % 3}",
                 "1|1:.:-0.5:.,3",
                 "./.:7:.:."]),
            1: ("GT:DP", [f"0|1:{i % 20}", ".:.", "1/2:30"]),
            2: ("GT", ["0/0", ".", "|1"]),
            3: ("DP:GT", [f"{i % 6}:1/0", ".:0/0", "8:."]),
        }[i % 4]
        rows.append("\t".join([chrom, str(pos), vid, ref, alt, qual, filt,
                               info, fmt] + cells))
    path.write_text(VCF_SYNTH_HEADER + "\n".join(rows) + "\n")
    return str(path)


VCF_STRUCT_CONFIGS = [
    {},
    {"samples_nested": "true"},
    {"genotype_by": "field"},
    {"info_fields": "DP,AF,DB"},
    {"genotype_fields": "GT,GL"},
    {"samples": "s2,s3"},
    {"info_fields": "", "genotype_fields": "GT"},
    {"limit": "37"},
    {"coords": "01"},
]


@pytest.mark.parametrize("opts", VCF_STRUCT_CONFIGS,
                         ids=lambda o: ",".join(f"{k}={v}" for k, v in o.items()) or "default")
def test_vcf_struct_fast_equals_slow_synth(tmp_path, opts):
    p = _write_synth_vcf(tmp_path / "synth.vcf")
    fast = _collect(VcfDataSource({"path": p, **opts}))
    slow = _collect(VcfDataSource({"path": p, **opts}), slow=True)
    assert fast == slow, opts
    assert len(fast) > 0


@needs_checkout
def test_vcf_struct_fast_equals_slow_fixture():
    for opts in ({}, {"samples_nested": "true"}, {"genotype_by": "field"}):
        fast = _collect(VcfDataSource({"path": VCF, **opts}))
        slow = _collect(VcfDataSource({"path": VCF, **opts}), slow=True)
        assert fast == slow, opts
        assert len(fast) > 0


def test_vcf_struct_fast_path_engages(tmp_path):
    p = _write_synth_vcf(tmp_path / "synth.vcf")
    ds = VcfDataSource({"path": p})  # INFO + genotypes on
    reader = ds.reader(ds.schema())

    def boom(line):
        raise AssertionError("line parser must not run on the struct fast path")

    reader.codec.parse_line = boom
    total = 0
    for part in reader.partitions():
        total += sum(b.num_rows for b in reader.read(part))
    assert total > 0


def test_vcf_struct_fast_falls_back_on_odd_numerics(tmp_path):
    """Values the typed cast can't reproduce (e.g. INFO DP=0x1F) must
    hand the batch to the line loop, not approximate: results identical
    to slow, via fallback."""
    p = tmp_path / "odd.vcf"
    p.write_text(VCF_SYNTH_HEADER
                 + "chr1\t100\t.\tA\tT\t1.0\tPASS\tDP=nonsense\tGT\t0/0\t0/1\t1/1\n")
    fast = _collect(VcfDataSource({"path": str(p)}))
    slow = _collect(VcfDataSource({"path": str(p)}), slow=True)
    assert fast == slow
    assert len(fast) == 1
