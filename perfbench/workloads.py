"""The two workloads: their inputs, timed ops and output checks.

Both workloads run the same op kinds, so every end-to-end metric exists on
both: a full scan and a projected scan to the ``noop`` sink, 100 kb region
counts, a driver-side Arrow read of ``chr1:1-8,000,000`` (the reference
notebook's query) and an ETL write through ``api.sort_*(single_file=...)``.
``bam_etl`` spends its time in ``sources.bam``; ``variant_etl`` in the text
path (``sources.base``, ``sources.vcf``) and the BCF decoder
(``sources.bcf``). Both share BGZF inflate and the DataSource boundary.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import inputs as I
from harness import expect

NAMES = [n for n, _ in I.CONTIGS]
_NAMES_SQL = "array(" + ", ".join(f"'{n}'" for n in NAMES) + ")"
REF_WINDOW = (0, 1, 8_000_000)   # chr1:1-8,000,000, BASELINE.md's query
REGION_BP = 100_000
N_REGIONS = 64


def _hash(pos, x, cid):
    """Order-independent record checksum term; numpy twin of _hash_sql."""
    return ((pos * 1000003) ^ (x * 7919) ^ (cid * 104729)) % (1 << 31)


def _hash_sql(pos: str, x: str, chrom: str) -> str:
    cid = f"array_position({_NAMES_SQL}, {chrom}) - 1"
    return (f"sum(pmod((cast({pos} as bigint) * 1000003) ^ (cast({x} as bigint) * 7919)"
            f" ^ (cast({cid} as bigint) * 104729), 2147483648))")


def _cids(col) -> np.ndarray:
    return pc.index_in(col, value_set=pa.array(NAMES)).to_numpy(zero_copy_only=False)


def _weighted_contigs(rng, n: int) -> np.ndarray:
    lens = np.array([ln for _, ln in I.CONTIGS])
    return rng.choice(len(lens), size=n, p=lens / lens.sum())


def region_str(r) -> str:
    return f"{NAMES[r[0]]}:{r[1]}-{r[2]}"


def _text_bytes(col) -> np.ndarray:
    """The concatenated UTF-8 values of a single-chunk string column."""
    arr = col.chunk(0)
    offs = np.frombuffer(arr.buffers()[1], np.int32)[arr.offset:arr.offset + len(arr) + 1]
    return np.frombuffer(arr.buffers()[2], np.uint8)[offs[0]:offs[-1]]


@dataclass
class FileSpec:
    """One input file: how to scan it and where its records lie."""
    fmt: str
    path: str
    index: str
    scan_opts: dict
    proj_opts: dict
    voff: np.ndarray     # record start virtual offsets, file order
    cid: np.ndarray
    beg: np.ndarray      # 1-based first position
    end: np.ndarray      # 1-based last position
    arrow_kw: dict = field(default_factory=dict)

    def ctor(self):
        from oxbow_spark import api
        return getattr(api, f"from_{self.fmt}")

    def overlap(self, r) -> np.ndarray:
        return (self.cid == r[0]) & (self.beg <= r[2]) & (self.end >= r[1])


class Workload:
    """Ops shared by both workloads. A subclass supplies ``prepare`` (writes
    the inputs, sets ``t`` and ``files``), ``keep`` (the truth mask of
    ``filter_sql``), ``scan_check`` (aggregate SQL and its expected value),
    ``check_arrow``, ``written_keys``/``truth_keys`` (the written file's
    records and the truth's), and the ``sort``/``cat`` writers."""

    name = suffix = index_kind = filter_sql = ""
    write_records = 0

    def __init__(self, cache: str, seed: int, tiny: bool):
        self.seed = seed
        self.gen_s = self.prepare(cache, tiny)
        # the windows are drawn once, not per seed: a window's cost depends
        # on how many index bins and chunks it spans, which is a property
        # of its position, so every seed queries the same positions
        rng = np.random.default_rng(REGION_BP)
        lens = [ln for _, ln in I.CONTIGS]
        self.regions = [(int(c), s, s + REGION_BP - 1) for c in
                        _weighted_contigs(rng, N_REGIONS)
                        for s in [int(rng.integers(1, lens[c] - REGION_BP))]]
        self.write_region, self.write_mask = self._write_window(
            100 if tiny else self.write_records)
        c, s, e = self.write_region
        self.index_region = (c, s + (e - s) // 3, s + (e - s) // 3 + 49_999)
        self.out_dir = os.path.join(cache, "out", self.name)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)
        self.last_write = None

    def _write_window(self, k: int):
        """The window on chr2 from 1 Mb that holds k records passing the
        ETL filter. Its place is fixed, not seeded: what a sorted write
        costs depends on where the window falls (how many index bins and
        chunks it spans), and every seed should write the same thing."""
        f = self.files[0]
        idx = np.flatnonzero((f.cid == 1) & (f.beg >= 1_000_001) & self.keep())
        r = (1, int(f.beg[idx[0]]), int(f.beg[idx[k - 1]]))
        return r, f.overlap(r) & self.keep()

    # -- ops -------------------------------------------------------------
    def setup_op(self, spark):
        """The set-up's DataFrame build: ``from_*(regions=...).to_spark``
        resolves the schema through the Python data source planner."""
        f = self.files[0]

        def op():
            df = f.ctor()(f.path, regions=region_str(self.regions[0])).to_spark(spark)
            return 0, lambda: expect("pos" in df.columns, f"set-up schema {df.columns}")
        return op

    def ops(self, spark, tracer, rep: int) -> dict:
        f = self.files[rep % len(self.files)]  # regions alternate over files
        return {
            "scan_full": self.scan_op(spark, lambda f: f.scan_opts),
            "scan_proj": self.scan_op(spark, lambda f: f.proj_opts),
            "region": self.region_op(spark, tracer, f,
                                     self.regions[rep % len(self.regions)]),
            "arrow_region": self.arrow_op,
            "write": lambda: self.write_op(spark, rep),
        }

    def checks(self, spark) -> dict:
        """The scans' output checks: the same scans into a checksum
        aggregate. Each is one more full Spark job, so they run once per
        run, at the start of the warm-up, instead of on every noop rep."""
        return {"check_full": self.scan_op(spark, lambda f: f.scan_opts, True),
                "check_proj": self.scan_op(spark, lambda f: f.proj_opts, False)}

    def scan_op(self, spark, opts_of, full: bool | None = None):
        """All files to the noop sink, or with ``full`` set, into the
        checksum aggregate of ``scan_check(full)``."""
        def op():
            dfs = []
            for f in self.files:
                r = spark.read.format(f.fmt)
                for k, v in opts_of(f).items():
                    r = r.option(k, v)
                dfs.append(r.load(f.path))
            n = sum(len(f.voff) for f in self.files)
            if full is None:
                for df in dfs:
                    df.write.format("noop").mode("overwrite").save()
                return n, None
            exprs, want = self.scan_check(full)
            got = [tuple(df.selectExpr(*exprs).first()) for df in dfs]
            return n, lambda: expect(all(g == want for g in got),
                                     f"scan {got} != {want}")
        return op

    def region_op(self, spark, tracer, f: FileSpec, r):
        """from_*(regions=...) → to_spark → count, with the build / plan /
        action spans that a traced run reports as api.*"""
        def op():
            with tracer.span("api.to_spark"):
                df = f.ctor()(f.path, regions=region_str(r)).to_spark(spark)
            if tracer.enabled:
                with tracer.span("api.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("api.exec"):
                n = df.count()
            want = int(f.overlap(r).sum())
            return n, lambda: expect(n == want, f"region {region_str(r)}: {n} != {want}")
        return op

    def arrow_op(self):
        tabs = [f.ctor()(f.path, regions=region_str(REF_WINDOW), **f.arrow_kw).to_arrow()
                for f in self.files]

        def check():
            for f, tab in zip(self.files, tabs):
                m = f.overlap(REF_WINDOW)
                expect(tab.num_rows == int(m.sum()),
                       f"{f.fmt} arrow rows {tab.num_rows} != {int(m.sum())}")
                tab = tab.combine_chunks()
                expect(np.array_equal(tab["pos"].to_numpy(), f.beg[m]), f"{f.fmt} arrow pos")
                self.check_arrow(f, tab, m)
        return sum(t.num_rows for t in tabs), check

    def etl_frame(self, spark):
        f = self.files[0]
        return (f.ctor()(f.path, regions=region_str(self.write_region))
                .to_spark(spark).where(self.filter_sql))

    def write_op(self, spark, rep: int):
        """ETL write: region scan, filter, ``api.sort_*`` into one sorted,
        indexed file; the check re-reads it against the filtered truth."""
        out = os.path.join(self.out_dir, f"w{rep % 2}{self.suffix}")
        self.sort(self.etl_frame(spark), os.path.join(self.out_dir, f"parts{rep % 2}"),
                  self.header, index=self.index_kind, single_file=out)
        self.last_write = out
        return int(self.write_mask.sum()), lambda: self.check_written(out)

    def parts_then_cat(self, spark) -> tuple[float, float]:
        """The write split in two: ``sort_*`` to indexed parts
        (``single_file=None``), then ``api.cat_*`` over the committed parts."""
        from oxbow_spark.sources.align_write import committed_parts

        parts = os.path.join(self.out_dir, "parts_only")
        out = os.path.join(self.out_dir, "cat" + self.suffix)
        t0 = time.perf_counter()
        self.sort(self.etl_frame(spark), parts, self.header, index=self.index_kind)
        t1 = time.perf_counter()
        self.cat(committed_parts(parts, self.suffix), out, index=self.index_kind)
        t2 = time.perf_counter()
        self.check_written(out)
        return t1 - t0, t2 - t1

    def check_written(self, out: str) -> None:
        f, m = self.files[0], self.write_mask
        got = self.written_keys(out)
        key = got[0] * (1 << 32) + got[1]
        expect(bool(np.all(key[1:] >= key[:-1])), "written file not coordinate-sorted")
        rows = lambda ks: sorted(zip(*(k.tolist() for k in ks)))  # noqa: E731
        want = self.truth_keys(m)
        expect(rows(got) == rows(want),
               f"written records differ ({len(got[0])} vs {len(want[0])})")
        r = self.index_region
        sub = f.ctor()(out, regions=region_str(r)).to_arrow().num_rows
        want_sub = int((m & f.overlap(r)).sum())
        expect(sub == want_sub, f"written index region {sub} != {want_sub}")


def _split_opts(path: str, opt: str) -> dict:
    """About 6 partitions per core, so a full scan runs in at least 4 task
    waves and no single slow task sets its time. Cuts fall on BGZF block
    starts, so a file of few blocks gets one partition per block."""
    nproc = os.cpu_count() or 1
    return {opt: str(max(os.path.getsize(path) // (6 * nproc), 1))}


# --------------------------------------------------------------- bam_etl


class BamEtl(Workload):
    name = "bam_etl"
    header = I.sam_header_text()
    suffix = ".bam"
    index_kind = "bai"
    filter_sql = "mapq >= 30"
    write_records = 12000

    def prepare(self, cache, tiny):
        n = 20_000 if tiny else 150_000

        self.t = t = I.bam_truth(self.seed, n)
        d, offs, gen_s = I.cached(cache, "bam", self.seed, n, lambda d: {
            "voff": I.write_bam(os.path.join(d, "reads.bam"), t)})
        self.bam = os.path.join(d, "reads.bam")
        split = _split_opts(self.bam, "chunksize")
        self.files = [FileSpec(
            "bam", self.bam, self.bam + ".bai", split,
            {**split, "fields": "rname,pos,mapq"},
            offs["voff"], t["cid"], t["pos"], t["pos"] + I.READ_LEN - 1,
            {"fields": ["rname", "pos", "end", "qname", "cigar", "seq", "qual"]})]
        return gen_s

    def keep(self):
        return self.t["mapq"] >= 30

    def scan_check(self, full):
        t = self.t
        if full:
            return (["count(1)", _hash_sql("pos", "substring(qname, 2)", "rname"),
                     "sum(mapq)"],
                    (len(t["pos"]), int(_hash(t["pos"], t["qid"], t["cid"]).sum()),
                     int(t["mapq"].sum())))
        return (["count(1)", _hash_sql("pos", "mapq", "rname")],
                (len(t["pos"]), int(_hash(t["pos"], t["mapq"], t["cid"]).sum())))

    def check_arrow(self, f, tab, m):
        t, n = self.t, int(m.sum())
        expect(np.array_equal(tab["end"].to_numpy(), f.end[m]), "arrow end")
        qid = pc.cast(pc.utf8_slice_codeunits(tab["qname"], 1), pa.int64())
        expect(np.array_equal(qid.to_numpy(), t["qid"][m]), "arrow qname")
        expect(pc.all(pc.equal(tab["cigar"], f"{I.READ_LEN}M")).as_py(), "arrow cigar")
        expect(np.array_equal(_cids(tab["rname"]), f.cid[m]), "arrow rname")
        expect(np.array_equal(_text_bytes(tab["seq"]), I._BASES[t["seq"][m]].ravel()),
               "arrow seq")
        expect(np.array_equal(_text_bytes(tab["qual"]), (t["qual"][m] + 33).ravel()),
               "arrow qual")
        expect(len(_text_bytes(tab["seq"])) == n * I.READ_LEN, "arrow seq length")

    def written_keys(self, out):
        from oxbow_spark import api
        tab = api.from_bam(out, fields=["rname", "pos", "qname", "mapq"]).to_arrow()
        expect(pc.all(pc.greater_equal(tab["mapq"], 30)).as_py() in (True, None),
               "written mapq filter")
        qid = pc.cast(pc.utf8_slice_codeunits(tab["qname"], 1), pa.int64())
        return [_cids(tab["rname"]), tab["pos"].to_numpy(), qid.to_numpy()]

    def truth_keys(self, m):
        return [self.t["cid"][m], self.t["pos"][m], self.t["qid"][m]]

    @staticmethod
    def sort(*a, **kw):
        from oxbow_spark import api
        return api.sort_bam(*a, **kw)

    @staticmethod
    def cat(*a, **kw):
        from oxbow_spark import api
        return api.cat_bam(*a, **kw)


# --------------------------------------------------------------- variant_etl


class VariantEtl(Workload):
    name = "variant_etl"
    header = I.vcf_header_text()
    suffix = ".vcf.gz"
    index_kind = "tbi"
    filter_sql = "qual >= 30"
    write_records = 2000

    def prepare(self, cache, tiny):
        n = 4_000 if tiny else 12_000

        self.t = t = I.variant_truth(self.seed, n)
        d, offs, gen_s = I.cached(cache, "variant", self.seed, n, lambda d: {
            "vcf": I.write_vcf(os.path.join(d, "sites.vcf.gz"), t),
            "bcf": I.write_bcf(os.path.join(d, "sites.bcf"), t)})
        self.vcf = os.path.join(d, "sites.vcf.gz")
        self.bcf = os.path.join(d, "sites.bcf")
        proj = {"fields": "chrom,pos,ref,alt", "info_fields": "", "genotype_fields": ""}
        self.files = []
        for fmt, path, idx, split_opt in (
                ("vcf", self.vcf, ".tbi", "partition_bytes"),
                ("bcf", self.bcf, ".csi", "chunksize")):
            split = _split_opts(path, split_opt)
            self.files.append(FileSpec(
                fmt, path, path + idx, split, {**split, **proj},
                offs[fmt], t["cid"], t["pos"], t["pos"]))
        return gen_s

    def keep(self):
        return self.t["qual"] >= 30

    def scan_check(self, full):
        t = self.t
        x = t["ref"].astype(np.int64) * 7919 + t["alt"].astype(np.int64) * 131
        exprs = ["count(1)", _hash_sql(
            "pos", "ascii(ref) * 7919 + ascii(element_at(alt, 1)) * 131", "chrom")]
        want = (len(t["pos"]), int(_hash(t["pos"], x, t["cid"]).sum()))
        if full:
            exprs += ["sum(info.DP)", "sum(S8.DP)"]
            want += (int(t["dp"].sum()), int(t["sdp"][:, -1].sum()))
        return exprs, want

    def check_arrow(self, f, tab, m):
        t = self.t
        expect(np.array_equal(_text_bytes(tab["ref"]), t["ref"][m]), f"{f.fmt} arrow ref")
        expect(np.array_equal(pc.struct_field(tab["info"], "DP").to_numpy(), t["dp"][m]),
               f"{f.fmt} arrow info.DP")
        expect(np.array_equal(pc.struct_field(tab["S8"], "DP").to_numpy(),
                              t["sdp"][m][:, -1]), f"{f.fmt} arrow S8.DP")

    def written_keys(self, out):
        from oxbow_spark import api
        tab = api.from_vcf(out, fields=["chrom", "pos", "ref", "alt", "qual"],
                           info_fields="", genotype_fields="").to_arrow()
        expect(pc.all(pc.greater_equal(tab["qual"], 30)).as_py() in (True, None),
               "written qual filter")
        ref = np.array([s.encode()[0] for s in tab["ref"].to_pylist()], dtype=np.int64)
        alt = np.array([a[0].encode()[0] for a in tab["alt"].to_pylist()], dtype=np.int64)
        return [_cids(tab["chrom"]), tab["pos"].to_numpy(), ref, alt]

    def truth_keys(self, m):
        t = self.t
        return [t["cid"][m], t["pos"][m], t["ref"][m].astype(np.int64),
                t["alt"][m].astype(np.int64)]

    @staticmethod
    def sort(*a, **kw):
        from oxbow_spark import api
        return api.sort_vcf(*a, **kw)

    @staticmethod
    def cat(*a, **kw):
        from oxbow_spark import api
        return api.cat_bgzf(*a, **kw)


WORKLOADS = {w.name: w for w in (BamEtl, VariantEtl)}
