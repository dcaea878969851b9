"""Columnar BCF decode against two oracles.

- The per-record reference decoder (`tests/bcf_reference.py`) on
  synthetic files that exercise the edge encodings: 15+ extended typed
  lengths, missing qual/GT sentinels, empty FILTER, '.' IDs,
  multi-allelic records, FORMAT keys that change order or go missing,
  repeated INFO keys, Flags and String lists.
- The VCF text twin of the same records, which no BCF decoder reads: the
  generated FIXTURES.md corpus, and NUL-padded String FORMAT cells.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from tests import bcf_reference
from tests.bcf_synth import (
    encoded_record,
    i8_cells,
    str_cells,
    typed_int,
    typed_str,
    write_bcf,
    write_bcf_records,
    write_bcf_wide,
)
from tests.corpus import fixtures_dir, generated_dir, needs_checkout

FIX = fixtures_dir()


def _scan(path: str, opts: dict, fmt: str = "bcf") -> pa.Table:
    from oxbow_spark.sources.bcf import BcfDataSource
    from oxbow_spark.sources.vcf import VcfDataSource

    src = (BcfDataSource if fmt == "bcf" else VcfDataSource)({"path": path, **opts})
    rd = src.reader(None)
    batches = []
    for part in rd.partitions():
        batches.extend(rd.read(part))
    return pa.Table.from_batches(batches)


def _ids(o: dict) -> str:
    return ",".join(f"{k}={v}" for k, v in o.items()) or "default"


@pytest.fixture(scope="module")
def synth(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("bcf") / "synth.bcf")
    write_bcf(p, 3000)
    return p


@pytest.mark.parametrize("opts", [
    {"info_fields": "", "genotype_fields": ""},
    {"fields": "chrom,pos,ref,alt", "info_fields": "", "genotype_fields": ""},
    {"genotype_fields": ""},              # info on, genotypes off
    {},                                   # everything
    {"samples_nested": "true"},
    {"genotype_by": "field"},
    {"coords": "01", "info_fields": "", "genotype_fields": ""},
    {"limit": "137", "info_fields": "", "genotype_fields": ""},
], ids=_ids)
def test_fast_equals_slow_synth(synth, opts):
    fast = _scan(synth, opts)
    slow = bcf_reference.read_table(synth, opts)
    assert fast.equals(slow), (fast.num_rows, slow.num_rows)
    assert fast.num_rows > 0


@needs_checkout
def test_fast_equals_slow_fixture():
    fast = _scan(f"{FIX}/sample.bcf", {})
    slow = bcf_reference.read_table(f"{FIX}/sample.bcf", {})
    assert fast.equals(slow)
    assert fast.num_rows > 0


def test_fast_equals_slow_region(synth):
    opts = {"regions": "chr1:1000-5000", "info_fields": "", "genotype_fields": ""}
    fast = _scan(synth, opts)
    slow = bcf_reference.read_table(synth, opts)
    assert fast.equals(slow)
    assert fast.num_rows > 0


@pytest.fixture(scope="module")
def wide(tmp_path_factory):
    """96 samples: int (DP, 96×1) and float (GL, 96×3) FORMAT slabs
    with EOV-truncated and MISSING cells (ADVICE r3)."""
    p = str(tmp_path_factory.mktemp("bcfw") / "wide.bcf")
    write_bcf_wide(p, 400, n_samples=96)
    return p


@pytest.mark.parametrize("opts", [
    {},                                   # everything, incl. float GL
    {"genotype_fields": "GL"},
    {"genotype_fields": "DP,GL"},
    {"samples_nested": "true"},
    {"genotype_by": "field"},
], ids=_ids)
def test_fast_equals_slow_wide(wide, opts):
    fast = _scan(wide, opts)
    slow = bcf_reference.read_table(wide, opts)
    assert fast.equals(slow), (fast.num_rows, slow.num_rows)
    assert fast.num_rows == 400


def test_wide_float_sentinels(wide):
    """GL cells decode with MISSING→null and EOV truncation."""
    t = _scan(wide, {"genotype_fields": "GL", "info_fields": ""})
    rows = t.column("w0").to_pylist()
    # sample w0, record i: (i+0)%11==0 → all-MISSING cell → None
    # (the '.' coercion); else len 1+(i%3), fully populated
    for i in (0, 11, 22):
        assert rows[i]["GL"] is None
    for i in (1, 2, 3, 4):
        assert len(rows[i]["GL"]) == 1 + (i % 3)
        assert all(v is not None for v in rows[i]["GL"])


def _header(meta: list[str]) -> str:
    return "\n".join([
        "##fileformat=VCFv4.3", *meta, "##contig=<ID=chr1,length=1000000>",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2",
    ]) + "\n"


# string dictionary of the layouts file: PASS 0, then header order
_LAYOUT_META = [
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">',
    '##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">',
    '##INFO=<ID=TAGS,Number=.,Type=String,Description="tags">',
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">',
    '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="depth">',
    '##FORMAT=<ID=AD,Number=.,Type=Integer,Description="wide">',
]
DP, DB, TAGS, GT, AD = 1, 2, 3, 4, 5


@pytest.fixture(scope="module")
def layouts(tmp_path_factory):
    """Records whose typed-value layout differs from one to the next."""
    p = str(tmp_path_factory.mktemp("bcfl") / "layouts.bcf")
    flag = b"\x00"  # type 0, length 0
    recs = [
        encoded_record(0, 99, "A", ["T"],
                       [(DP, typed_int(10)), (DB, flag), (TAGS, typed_str("a,b"))],
                       [(GT, i8_cells([[2, 4], [4, 5]], 2)),
                        (DP, i8_cells([[7], [9]], 1))], 2),
        # FORMAT keys in the other order; DP repeated in INFO
        encoded_record(0, 199, "C", ["G"],
                       [(DP, typed_int(5)), (DP, typed_int(7))],
                       [(DP, i8_cells([[3], [None]], 1)),
                        (GT, i8_cells([[2, 3], [0, 0]], 2))], 2),
        # no FORMAT DP; a non-ASCII byte decodes as U+FFFD
        encoded_record(0, 299, "G", ["A"], [(TAGS, typed_str("x,é"))],
                       [(GT, i8_cells([[2, 2], [2, 4]], 2))], 2),
        # AD 16 wide: an extended (15+) descriptor
        encoded_record(0, 399, "T", ["C"], [],
                       [(GT, i8_cells([[2, 2], [2, 2]], 2)),
                        (AD, i8_cells([list(range(16)), [1, 2, 3]], 16)),
                        (DP, i8_cells([[4], [5]], 1))], 2),
        # no FORMAT at all
        encoded_record(0, 499, "A", ["G"], [(DB, flag)], [], 2),
    ]
    write_bcf_records(p, _header(_LAYOUT_META), recs)
    return p


@pytest.mark.parametrize("opts", [
    {}, {"samples_nested": "true"}, {"genotype_by": "field"},
    {"genotype_fields": "AD,GT", "info_fields": "TAGS"},
], ids=_ids)
def test_fast_equals_slow_layouts(layouts, opts):
    fast = _scan(layouts, opts)
    assert fast.equals(bcf_reference.read_table(layouts, opts))
    assert fast.num_rows == 5


def test_layout_values(layouts):
    t = _scan(layouts, {})
    info = t.column("info").to_pylist()
    assert [r["DP"] for r in info] == [10, 7, None, None, None]
    assert [r["DB"] for r in info] == [True, None, None, None, True]
    assert [r["TAGS"] for r in info] == [
        ["a", "b"], None, ["x", "\ufffd\ufffd"], None, None]
    s1, s2 = t.column("s1").to_pylist(), t.column("s2").to_pylist()
    assert [r["DP"] for r in s1] == [7, 3, None, 4, None]
    assert [r["DP"] for r in s2] == [9, None, None, 5, None]
    assert s1[1]["GT"] == {"allele": [0, 0], "phased": [False, True]}
    assert s2[1]["GT"] == {"allele": [None, None], "phased": [False, False]}
    assert s1[3]["AD"] == list(range(16))
    assert s2[3]["AD"] == [1, 2, 3]
    assert s1[4] == {"GT": None, "DP": None, "AD": None}


def test_string_format_cells_match_vcf_text(tmp_path):
    """Per-sample char cells are NUL-padded to one width in BCF; the
    padding is not part of the value, so '.' is null as in VCF text."""
    meta = ['##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">',
            '##FORMAT=<ID=FT,Number=1,Type=String,Description="sample filter">']
    ft = [("PASS", "."), ("q10", "PASS"), ("LowQual", "q5")]
    recs, lines = [], []
    for i, (a, b) in enumerate(ft):
        recs.append(encoded_record(
            0, 100 * i, "A", ["T"], [],
            [(1, i8_cells([[2, 4], [4, 5]], 2)), (2, str_cells([a, b]))], 2))
        lines.append(f"chr1\t{100 * i + 1}\t.\tA\tT\t.\tPASS\t.\tGT:FT\t"
                     f"0/1:{a}\t1|1:{b}\n")
    bcf, vcf = str(tmp_path / "ft.bcf"), tmp_path / "ft.vcf"
    write_bcf_records(bcf, _header(meta), recs)
    vcf.write_text(_header(meta) + "".join(lines))
    opts = {"info_fields": ""}
    got = _scan(bcf, opts)
    assert got.equals(_scan(str(vcf), opts, fmt="vcf"))
    assert got.equals(bcf_reference.read_table(bcf, opts))
    assert [r["FT"] for r in got.column("s2").to_pylist()] == [None, "PASS", "q5"]
    assert [r["FT"] for r in got.column("s1").to_pylist()] == ["PASS", "q10", "LowQual"]


def test_string_list_dot_elements_match_vcf_text(tmp_path):
    """A '.' or empty element of a list-Number String value is null in
    BCF, as in VCF text: TAGS=a,. reads ['a', None]. A whole '.' value
    is a null list."""
    meta = ['##INFO=<ID=TAGS,Number=.,Type=String,Description="tags">',
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">',
            '##FORMAT=<ID=FL,Number=.,Type=String,Description="flags">']
    vals = [("a,.", "x,.", ".,y"), ("a,,b", "p", "q,,r"), ("b", ".", "z")]
    recs, lines = [], []
    for i, (tags, a, b) in enumerate(vals):
        recs.append(encoded_record(
            0, 100 * i, "A", ["T"], [(1, typed_str(tags))],
            [(2, i8_cells([[2, 4], [4, 5]], 2)), (3, str_cells([a, b]))], 2))
        lines.append(f"chr1\t{100 * i + 1}\t.\tA\tT\t.\tPASS\tTAGS={tags}\t"
                     f"GT:FL\t0/1:{a}\t1|1:{b}\n")
    bcf, vcf = str(tmp_path / "fl.bcf"), tmp_path / "fl.vcf"
    write_bcf_records(bcf, _header(meta), recs)
    vcf.write_text(_header(meta) + "".join(lines))
    got = _scan(bcf, {})
    assert got.equals(_scan(str(vcf), {}, fmt="vcf"))
    assert got.equals(bcf_reference.read_table(bcf, {}))
    assert [r["TAGS"] for r in got.column("info").to_pylist()] == [
        ["a", None], ["a", None, "b"], ["b"]]
    assert [r["FL"] for r in got.column("s1").to_pylist()] == [
        ["x", None], ["p"], None]
    assert [r["FL"] for r in got.column("s2").to_pylist()] == [
        [None, "y"], ["q", None, "r"], ["z"]]


@pytest.mark.parametrize("opts", [
    {},
    {"samples_nested": "true"},
    {"genotype_by": "field"},
    {"genotype_fields": ""},
    {"regions": "chr1:10000-60000"},
], ids=_ids)
def test_bcf_equals_vcf_on_generated_corpus(opts):
    """The corpus writes one set of records as BCF and as VCF text with
    its own encoders; the checkout's sample.bcf and sample.vcf hold
    different records, so this reads the generated corpus always."""
    d = generated_dir()
    bcf = _scan(f"{d}/sample.bcf", opts)
    assert bcf.equals(_scan(f"{d}/sample.vcf.gz", opts, fmt="vcf"))
    assert bcf.num_rows > 0
