"""Self-test of the benchmark: a tiny-size run of each workload, and proof
that one corrupted record fails the output checks.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs as I  # noqa: E402
from harness import CheckFailed  # noqa: E402
from workloads import BamEtl, VariantEtl  # noqa: E402


def _declared(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["bam_etl", "variant_etl"])
def test_tiny_run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stderr[-3000:]
    assert set(result["metrics"]) == _declared("per_layer" if trace else "end_to_end")
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"])


def test_missing_program_fails(tmp_path):
    """A directory holding only the benchmark exits non-zero, no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bam_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0 and out.stdout == ""


def _corrupt_one(wl, path_attr: str, write, key: str, k: int = 5):
    """Rewrite the workload's input with record ``k``'s ``key`` changed;
    the truth the checks compare against stays as generated."""
    bad = {n: v.copy() for n, v in wl.t.items()}
    bad[key][k] = bad[key][k] + 1
    write(getattr(wl, path_attr), bad)


def test_corrupted_bam_record_fails_check(tmp_path):
    wl = BamEtl(str(tmp_path), seed=3, tiny=True)
    wl.arrow_op()[1]()  # the generated file passes
    _corrupt_one(wl, "bam", I.write_bam, "qid")
    with pytest.raises(CheckFailed):
        wl.arrow_op()[1]()


def test_corrupted_vcf_record_fails_check(tmp_path):
    wl = VariantEtl(str(tmp_path), seed=3, tiny=True)
    wl.arrow_op()[1]()
    _corrupt_one(wl, "vcf", I.write_vcf, "dp")
    with pytest.raises(CheckFailed):
        wl.arrow_op()[1]()


def test_generated_index_matches_records():
    """The generator's own .bai agrees with a brute-force overlap count."""
    from oxbow_spark import api

    t = I.bam_truth(5, 5000)
    path = os.path.join(ROOT, ".perfbench", "selftest.bam")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    I.write_bam(path, t)
    try:
        for cid, s, e in [(0, 1, 2_000_000), (2, 3_000_000, 3_100_000)]:
            want = int(((t["cid"] == cid) & (t["pos"] <= e)
                        & (t["pos"] + I.READ_LEN - 1 >= s)).sum())
            got = api.from_bam(path, regions=f"{I.CONTIGS[cid][0]}:{s}-{e}").to_arrow()
            assert got.num_rows == want
            assert np.all(np.diff(got["pos"].to_numpy()) >= 0)
    finally:
        for p in (path, path + ".bai"):
            os.remove(p)
