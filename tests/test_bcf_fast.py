"""Vectorized BCF decode: fast path ≡ slow per-record reference path on a
synthetic corpus that exercises the edge encodings (15+ extended typed
lengths, missing qual/GT sentinels, empty FILTER, '.' IDs, multi-allelic
records), plus the real fixture.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from tests.bcf_synth import write_bcf, write_bcf_wide
from tests.corpus import fixtures_dir, needs_checkout

FIX = fixtures_dir()


def _scan(path: str, opts: dict) -> pa.Table:
    from oxbow_spark.sources.bcf import BcfDataSource

    src = BcfDataSource({"path": path, **opts})
    rd = src.reader(None)
    batches = []
    for part in rd.partitions():
        batches.extend(rd.read(part))
    return pa.Table.from_batches(batches)


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
], ids=lambda o: ",".join(f"{k}={v}" for k, v in o.items()) or "default")
def test_fast_equals_slow_synth(synth, opts):
    fast = _scan(synth, opts)
    slow = _scan(synth, {**opts, "slow_decode": "true"})
    assert fast.equals(slow), (fast.num_rows, slow.num_rows)
    assert fast.num_rows > 0


@needs_checkout
def test_fast_equals_slow_fixture():
    fast = _scan(f"{FIX}/sample.bcf", {})
    slow = _scan(f"{FIX}/sample.bcf", {"slow_decode": "true"})
    assert fast.equals(slow)
    assert fast.num_rows > 0


def test_fast_equals_slow_region(synth):
    opts = {"regions": "chr1:1000-5000", "info_fields": "", "genotype_fields": ""}
    fast = _scan(synth, opts)
    slow = _scan(synth, {**opts, "slow_decode": "true"})
    assert fast.equals(slow)
    assert fast.num_rows > 0


@pytest.fixture(scope="module")
def wide(tmp_path_factory):
    """96 samples → ns·ln ≥ 64 for DP (96×1) and GL (96×3): the
    vectorized FORMAT slab branch fires for int AND float fields, with
    EOV-truncated and MISSING cells (ADVICE r3)."""
    p = str(tmp_path_factory.mktemp("bcfw") / "wide.bcf")
    write_bcf_wide(p, 400, n_samples=96)
    return p


@pytest.mark.parametrize("opts", [
    {},                                   # everything, incl. float GL
    {"genotype_fields": "GL"},
    {"genotype_fields": "DP,GL"},
    {"samples_nested": "true"},
    {"genotype_by": "field"},
], ids=lambda o: ",".join(f"{k}={v}" for k, v in o.items()) or "default")
def test_fast_equals_slow_wide(wide, opts):
    fast = _scan(wide, opts)
    slow = _scan(wide, {**opts, "slow_decode": "true"})
    assert fast.equals(slow), (fast.num_rows, slow.num_rows)
    assert fast.num_rows == 400


def test_wide_float_sentinels(wide):
    """GL cells decode with MISSING→null and EOV truncation on both paths."""
    t = _scan(wide, {"genotype_fields": "GL", "info_fields": ""})
    rows = t.column("w0").to_pylist()
    # sample w0, record i: (i+0)%11==0 → all-MISSING cell → None
    # (the '.' coercion); else len 1+(i%3), fully populated
    for i in (0, 11, 22):
        assert rows[i]["GL"] is None
    for i in (1, 2, 3, 4):
        assert len(rows[i]["GL"]) == 1 + (i % 3)
        assert all(v is not None for v in rows[i]["GL"])
