"""BED vectorized fast path (pyarrow.csv): byte-for-byte equality with
the per-line parser across schemas, partitioning, regions, coordinate
systems and projections — plus proof the fast path actually engages."""

from __future__ import annotations

import gzip

import pytest

from oxbow_spark.sources.bed import BedCodec, BedDataSource
from tests.corpus import fixtures_dir, generated_dir, needs_checkout

FIX = fixtures_dir()


def _collect(ds: BedDataSource, slow: bool = False):
    reader = ds.reader(ds.schema())
    if slow:
        reader.codec.parse_table = lambda data: None  # force line loop
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(tuple(d.values()) for d in batch.to_pylist())
    return rows


CONFIGS = [
    {"bed_schema": "bed6"},
    {"bed_schema": "bed12"},
    {"bed_schema": "bed3"},
    {"bed_schema": "bed6", "coords": "11"},
    {"bed_schema": "bed6", "fields": "chrom,end,name"},
    {"bed_schema": "bed6", "regions": "chr1:1-100000"},
]


@pytest.fixture(scope="module")
def bed12_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("bedfast") / "twelve.bed"
    lines = ["# a comment", "track name=x"]
    for i in range(200):
        lines.append(
            f"chr{1 + i % 2}\t{i * 100}\t{i * 100 + 50}\tfeat{i}\t{i % 1000}\t"
            f"{'+' if i % 2 else '-'}\t{i * 100}\t{i * 100 + 40}\t255,0,{i % 256}\t"
            f"2\t10,20,\t0,30,"
        )
    lines.append("browser position chr1")
    lines.append(f"chr1\t99999\t100050\tdot\t.\t.\t.\t.\t.\t.\t.\t.")
    p.write_text("\n".join(lines) + "\n")
    return str(p)


@needs_checkout
def test_fixture_beds_fast_equals_slow():
    cases = [
        (f"{FIX}/sample.bed", {"bed_schema": "bed9"}),       # 9-column file
        (f"{FIX}/sample.bed", {"bed_schema": "bed9", "regions": "chr1:1-2000000"}),
        (f"{FIX}/sample.bed", {"bed_schema": "bed6"}),
        (f"{FIX}/sample.bed", {"bed_schema": "bed3"}),
        (f"{FIX}/sample.bed", {"bed_schema": "bed6", "coords": "11"}),
        (f"{FIX}/sample.bed", {"bed_schema": "bed6", "fields": "chrom,end,name"}),
        (f"{FIX}/ENCFF758CQW.100.bed.gz", {"bed_schema": "bed6+4"}),  # narrowPeak
    ]
    for path, o in cases:
        fast = _collect(BedDataSource({"path": path, **o}))
        slow = _collect(BedDataSource({"path": path, **o}), slow=True)
        assert fast == slow, (path, o)
        assert len(fast) > 0


def test_bed12_all_types_fast_equals_slow(bed12_file):
    for opts in CONFIGS:
        fast = _collect(BedDataSource({"path": bed12_file, **opts}))
        slow = _collect(BedDataSource({"path": bed12_file, **opts}), slow=True)
        assert fast == slow, opts
        assert len(fast) > 0


def test_split_partitions_fast_equals_whole(bed12_file):
    whole = _collect(BedDataSource({"path": bed12_file, "bed_schema": "bed12"}))
    split = _collect(BedDataSource({
        "path": bed12_file, "bed_schema": "bed12", "partition_bytes": "1024",
    }))
    assert sorted(split) == sorted(whole)
    ds = BedDataSource({
        "path": bed12_file, "bed_schema": "bed12", "partition_bytes": "1024",
    })
    assert len(ds.reader(ds.schema()).partitions()) > 3


def test_bedgraph_fast_equals_slow(tmp_path):
    p = tmp_path / "g.bedgraph"
    p.write_text("chr1\t0\t10\t1.5\nchr1\t10\t20\t.\nchr2\t0\t5\t-2.25\n")
    fast = _collect(BedDataSource({"path": str(p), "bed_schema": "bedgraph"}))
    slow = _collect(BedDataSource({"path": str(p), "bed_schema": "bedgraph"}), slow=True)
    assert fast == slow
    assert fast[0][-1] == 1.5 and fast[1][-1] is None


def test_fast_path_engages(bed12_file):
    ds = BedDataSource({"path": bed12_file, "bed_schema": "bed12"})
    reader = ds.reader(ds.schema())

    def boom(line):
        raise AssertionError("line parser must not run on the fast path")

    reader.codec.parse_line = boom
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(batch.to_pylist())
    assert len(rows) == 201


def test_rest_schema_falls_back(tmp_path):
    p = tmp_path / "r.bed"
    p.write_text("chr1\t0\t10\tn\t0\t+\textra\tstuff here\n")
    ds = BedDataSource({"path": str(p), "bed_schema": "bed6+"})
    [row] = _collect(ds)
    assert row[-1] == "extra\tstuff here"


def test_ragged_extra_columns_fall_back(tmp_path):
    # the line parser tolerates extra trailing columns; csv cannot —
    # the fast path must hand over instead of erroring
    p = tmp_path / "x.bed"
    p.write_text("chr1\t0\t10\tn\t0\t+\tEXTRA\nchr1\t5\t15\tm\t0\t-\n")
    rows = _collect(BedDataSource({"path": str(p), "bed_schema": "bed6"}))
    assert len(rows) == 2


def test_indexed_region_without_hits_reads_no_rows():
    """A BED.gz region that the tabix index does not hit plans one empty
    partition; its empty parse must read as no rows for every schema and
    coordinate system, as the line loop does."""
    path = f"{generated_dir()}/sample.bed.gz"
    for opts in ({}, {"coords": "11"}, {"bed_schema": "bed9+2"}):
        ds = BedDataSource({"path": path, "regions": "chrX:1-10", **opts})
        assert _collect(ds) == [] == _collect(ds, slow=True), opts
