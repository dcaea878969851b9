"""One-thread layer probes for a traced run. They call the layers' public
functions from here (``sources.bgzf``, the DataSource readers, the index
readers, ``api.cat_*``); tracing inside ``oxbow_spark`` itself is out of
scope for the benchmark."""

from __future__ import annotations

import os
import statistics
import struct
import time

import numpy as np

from harness import expect
from workloads import region_str

_INDEX_READERS = {".bai": "BaiIndex", ".tbi": "TabixIndex", ".csi": "CsiIndex"}


def block_offsets(path: str) -> np.ndarray:
    """Compressed offset of every BGZF block, from the block headers."""
    offs, off = [], 0
    with open(path, "rb") as f:
        data = f.read()
    while off + 18 <= len(data):
        offs.append(off)
        (bsize,) = struct.unpack_from("<H", data, off + 16)
        off += bsize + 1
    return np.array(offs, dtype=np.int64)


def _reader(f, opts: dict):
    from oxbow_spark.sources.register import DATASOURCES

    ds = DATASOURCES[f.fmt]({"path": f.path, **opts})
    return ds.reader(ds.schema())


def _vrange(part) -> tuple[int, int]:
    if hasattr(part, "vstart"):
        return part.vstart, part.vend
    return part.start, part.end  # text partitions carry vpos in start/end


def index_read_ms(f) -> float:
    from oxbow_spark.sources import bgzf

    cls = getattr(bgzf, _INDEX_READERS[os.path.splitext(f.index)[1]])
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        cls.read(f.index)
        ts.append(time.perf_counter() - t0)
    return 1e3 * statistics.median(ts)


def inflate(f) -> tuple[int, float]:
    """(decompressed bytes, seconds) of one BgzfReader pass over the file."""
    from oxbow_spark.sources.bgzf import BgzfReader

    n = 0
    t0 = time.perf_counter()
    with BgzfReader(f.path) as r:
        while True:
            b = r.read(1 << 20)
            if not b:
                break
            n += len(b)
    return n, time.perf_counter() - t0


def read_partitions(f, opts: dict) -> tuple[int, list[float]]:
    """(records, per-partition seconds) of one-thread reader.read over the
    partitions a Spark scan with ``opts`` would plan."""
    reader = _reader(f, opts)
    rows, ts = 0, []
    for part in reader.partitions():
        t0 = time.perf_counter()
        rows += sum(b.num_rows for b in reader.read(part))
        ts.append(time.perf_counter() - t0)
    return rows, ts


def region_pruning(f, region: str, want: int, blocks: np.ndarray) -> dict:
    """Partitions, BGZF blocks spanned and records examined per record
    returned for one region query, from the reader's planned partitions."""
    parts = _reader(f, {"regions": region}).partitions()
    nblk = examined = 0
    for p in parts:
        vs, ve = _vrange(p)
        if vs < 0 or ve <= vs:
            continue
        last = (ve >> 16) - (1 if ve & 0xFFFF == 0 else 0)
        nblk += int(np.count_nonzero((blocks >= vs >> 16) & (blocks <= last)))
        examined += int(np.count_nonzero((f.voff >= vs) & (f.voff < ve)))
    return {"partitions": len(parts), "blocks": nblk,
            "examined": examined, "returned": want}


def probe_files(wl, scan_wall_s: float) -> dict[str, float]:
    """Layer metrics that need no Spark job: index reads, inflate, one-thread
    reads over every partition, region pruning and driver-side reads."""
    idx_ms = sum(index_read_ms(f) for f in wl.files)
    inf_bytes = inf_s = 0.0
    full_rows = proj_rows = 0
    full_ts: list[float] = []
    proj_s = 0.0
    for f in wl.files:
        b, s = inflate(f)
        inf_bytes += b
        inf_s += s
        n, ts = read_partitions(f, f.scan_opts)
        expect(n == len(f.voff), f"{f.fmt} one-thread read {n} != {len(f.voff)}")
        full_rows += n
        full_ts += ts
        n, ts = read_partitions(f, f.proj_opts)
        proj_rows += n
        proj_s += sum(ts)
    prune, local = [], []
    for i, r in enumerate(wl.regions[:8]):
        f = wl.files[i % len(wl.files)]
        want = int(f.overlap(r).sum())
        prune.append(region_pruning(f, region_str(r), want, block_offsets(f.path)))
        t0 = time.perf_counter()
        got = f.ctor()(f.path, regions=region_str(r)).to_arrow().num_rows
        local.append(time.perf_counter() - t0)
        expect(got == want, f"local region {got} != {want}")
    full_s = sum(full_ts)
    nproc = os.cpu_count() or 1
    return {
        "index.read_ms": idx_ms,
        "bgzf.inflate_mb_s": inf_bytes / 1e6 / inf_s,
        "reader.read_full_rec_s": full_rows / full_s,
        "reader.read_proj_rec_s": proj_rows / proj_s,
        "reader.decode_self_s": full_s - inf_s,
        "scan.core_busy_ratio": full_s / (scan_wall_s * nproc),
        "region.partitions": statistics.median(p["partitions"] for p in prune),
        "region.bgzf_blocks": statistics.median(p["blocks"] for p in prune),
        "region.rows_examined_per_row": sum(p["examined"] for p in prune)
        / max(1, sum(p["returned"] for p in prune)),
        "region.local_ms": 1e3 * statistics.median(local),
    }
