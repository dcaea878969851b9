"""Deduplication operators for large-scale text/training-data pipelines.

Exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard — all
expressed as Catalyst-optimizable DataFrame ops. Hash functions are built
on ``md5`` so results are reproducible across engines (DuckDB oracle
parity) and across Spark versions; at 100 TB swap ``md5`` for ``xxhash64``
(same plan shape, faster) — the structure, shuffles and join strategy are
identical.

Kernel-vs-expression split (r15): the md5/oracle minhash SIGNATURE pass
runs as an Arrow ``pandas_udf`` kernel by default (``kernel=True`` —
numpy+hashlib over the same UTF-8 bytes, bit-identity pinned by
``tests/test_text_kernels.py``), because the interpreted HOF chains cost
~5x more task CPU; the xxhash64 production variants, shingle sets, and
simhash default to the pure-JVM expression formulation (measured faster at
local widths; ``kernel=True`` opt-in where a kernel exists). Everything
else — band keys, joins, verify — stays JVM expressions.

Scale notes:
- exact dedup: one hash-shuffle on the digest; map-side partial agg keeps
  shuffle volume at ~1 row per distinct digest per task.
- MinHash-LSH: docs -> shingles -> K min-hashes -> B band keys; the only
  wide op is the band-key self-join, whose fan-out is controlled by band
  size. Nothing corpus-sized is ever retained: signatures stream straight
  out of the scan (tokens/shingles/digests live only per-row inside one
  pipeline stage), and only the tiny signature + candidate-pair frames
  persist (DISK_ONLY); the Jaccard verify re-reads candidate-pair docs
  only.
- SimHash: token-parallel bit voting via a single explode + groupBy.
- n-gram Jaccard all-pairs is O(n^2) and intentionally restricted to
  small partitions of the corpus (per-source blocks) — the LSH path is
  the scale path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oxbow_spark import config

TOKEN_SPLIT = r"\s+"

# Python mirror of the JVM tokenizer `split(trim(text), '\s+')`, used by
# the Arrow kernels (simhash here, repetition_stats in text.py):
# - Spark `trim` strips ASCII space (0x20) ONLY → str.strip(' ')
# - Java `\s` (no UNICODE_CHARACTER_CLASS) is exactly [ \t\n\x0B\f\r],
#   so the Python class is written out literally — Python's own r"\s"
#   would additionally match \x1c-\x1f, \x85, \xa0,   … and break
#   byte parity on unicode whitespace
# - Spark splits with limit -1 (leading/trailing empty strings kept),
#   which is re.split's default behavior
# The equality battery in tests/test_text_kernels.py pins kernel ≡ JVM
# on the real corpus plus a unicode/degenerate edge corpus.
_PY_TOKEN_RE = None


def _py_tokens(s: str) -> list[str]:
    global _PY_TOKEN_RE
    if _PY_TOKEN_RE is None:
        import re

        _PY_TOKEN_RE = re.compile("[ \t\n\x0b\x0c\r]+")
    return _PY_TOKEN_RE.split(s.strip(" "))


def tokens(col):
    return F.split(F.trim(col), TOKEN_SPLIT)


def _tokens_sql(col_sql: str) -> str:
    """SQL text of `tokens` (split on whitespace of the trimmed column).
    The doubled backslash survives the SQL string-literal escape."""
    return f"split(trim({col_sql}), '\\\\s+')"


def _shingles_sql(t_sql: str, k: int) -> str:
    """SQL text of `shingles_of` — the IDENTICAL let-bound tree
    (transform(array(t), tt -> ...)[1], see `shingles_of` for why), but
    parsed JVM-side in one call instead of built Column-by-Column over
    py4j (the round-15 plan-construction cost finding)."""
    elems = ", ".join(
        f"element_at(tt, cast(i + {j + 1} as int))" for j in range(k))
    body = (f"case when size(tt) >= {k} then "
            f"transform(sequence(0, size(tt) - {k}), "
            f"i -> concat_ws(' ', {elems})) "
            f"else array(concat_ws(' ', tt)) end")
    return f"element_at(transform(array({t_sql}), tt -> {body}), 1)"


def shingles_of(t, k: int = 3):
    """Array of k-word shingles from a token array column/expression.

    LET-BOUND (round 12): the input binds to a lambda variable via
    `transform(array(t), body)[1]` so every per-element `element_at`
    reads an O(1) slot, NO MATTER WHAT `t` becomes after optimization.
    Staging `t` as its own Project column (the round-9 discipline —
    CollapseProject declines to inline a non-cheap multiply-referenced
    alias) is NOT enough: when the shingle column is exploded
    downstream, `InferFiltersFromGenerate` adds a
    `size(sh) > 0 AND isnotnull(sh)` filter under the Generate and
    `PushDownPredicates` SUBSTITUTES the alias chain straight through
    the staged Projects — the filter's copy of this expression gets
    `split(trim(text))` as the `element_at` operand, which interpreted
    HOF eval recomputes PER ELEMENT: O(tokens²) per doc, measured
    37.7 s for ONE 10k-token doc (0.26 s let-bound; SCALE.md
    "filter-pushdown re-inlining"). The let-bound form caps the
    substituted filter at ~2 extra O(tokens) evaluations per row."""
    def _body(tt):
        idx = F.sequence(F.lit(0), F.size(tt) - k)
        return F.when(
            F.size(tt) >= k,
            F.transform(idx, lambda i: F.concat_ws(
                " ", *[F.element_at(tt, (i + j + 1).cast("int"))
                       for j in range(k)])),
        ).otherwise(F.array(F.concat_ws(" ", tt)))

    return F.element_at(F.transform(F.array(t), _body), 1)


def _py_shingles(s: str | None, k: int) -> list[str]:
    """Python mirror of tokens→shingles (`_shingles_sql` semantics):
    k-token windows joined with ' ', or the single joined-token string
    when the doc has fewer than k tokens. NULL text behaves like '' —
    verified against the JVM path (trim/split of NULL bottoms out at the
    else-leg's concat_ws, which yields ''), pinned by the equality
    battery in tests/test_text_kernels.py."""
    toks = _py_tokens(s if s is not None else "")
    n = len(toks)
    if n >= k:
        if k == 3:
            return [toks[i] + " " + toks[i + 1] + " " + toks[i + 2]
                    for i in range(n - 2)]
        return [" ".join(toks[i:i + k]) for i in range(n - k + 1)]
    return [" ".join(toks)]


def _minhash_sig_udf(num_hashes: int, shingle_k: int):
    """Arrow kernel for `minhash_signatures` (md5 path): per doc,
    tokenize → shingle → ceil(H/4) md5 digests per shingle → per-slice
    min, all in one pandas_udf. Bit-identical to the expression path:
    the tokenizer is `_py_tokens` (≡ split(trim, '\\s+')), md5 runs over
    the same UTF-8 bytes as Spark's md5(cast(string as binary)), and the
    numeric min over big-endian uint32 views of the raw digests equals
    the lexicographic min over fixed-width lowercase-hex slices (both
    compare the same 4 bytes most-significant first). Pinned by
    tests/test_text_kernels.py on the real corpus + unicode/degenerate
    edges. Guide §4.2: the expression path's interpreted HOF chains
    (transform + concat_ws + md5 + 8 array_min/substring folds) measured
    ~4.5 s of task CPU at sf0.1 vs ~0.65 s of pure-Python compute for
    the kernel (the ~60 ms/task Arrow boundary overhead narrows that to
    1.6->0.95 s task CPU at 8 tasks and parity at 32 — the win grows
    with rows/task, i.e. with scale); the boundary moves only (text) in
    and H 8-char strings per doc out."""
    from pyspark.sql.functions import pandas_udf

    n_dig = (num_hashes + 3) // 4

    @pandas_udf("array<string>")
    def k(texts: pd.Series) -> pd.Series:
        import hashlib

        md5 = hashlib.md5
        pre = [f"{g}:".encode("ascii") for g in range(n_dig)]
        out = []
        for s in texts:
            sh = [x.encode("utf-8") for x in _py_shingles(s, shingle_k)]
            if n_dig == 2:
                p0, p1 = pre
                buf = b"".join(
                    md5(p0 + x).digest() + md5(p1 + x).digest() for x in sh)
            else:
                buf = b"".join(
                    b"".join(md5(p + x).digest() for p in pre) for x in sh)
            mins = np.frombuffer(buf, dtype=">u4").reshape(
                -1, 4 * n_dig).min(axis=0)
            out.append(["%08x" % v for v in mins[:num_hashes]])
        return pd.Series(out)

    return k


def _shingle_set_udf(shingle_k: int):
    """Arrow kernel for the distinct-shingle-set stage (`shingle_stage`
    and the Jaccard-verify re-shingling in `minhash_dedup_pairs`):
    tokens → shingles → first-occurrence distinct (dict.fromkeys ≡
    array_distinct's keep-first semantics). Bit-identical by the same
    arguments as `_minhash_sig_udf`; measured ~3.5 s of task CPU at
    sf0.1 for the expression chain vs ~0.2 s for the kernel."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def k(texts: pd.Series) -> pd.Series:
        return pd.Series([
            list(dict.fromkeys(_py_shingles(s, shingle_k))) for s in texts
        ])

    return k


def shingle_stage(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_k: int = 3, persist: bool = False, kernel: bool = False,
) -> DataFrame:
    """(id, sh): distinct shingle set per doc. Default is the JVM
    expression formulation: chained Projects so the split/shingle
    expressions evaluate once per row (CollapseProject declines to
    inline non-cheap aliases referenced more than once). ``kernel=True``
    computes it in one Arrow pandas_udf (`_shingle_set_udf`),
    bit-identical (equality battery in tests/test_text_kernels.py) and
    ~4x less per-row CPU — but at sf0.1's tiny per-task row counts the
    ~60 ms/task Arrow boundary overhead dominates (measured 2.0 s vs
    0.7 s task CPU at 32 tasks), so like `simhash(kernel=...)` the
    kernel is opt-in for deployments with real-sized partitions.
    ``persist=True`` (DISK_ONLY: the frame is ~10x the corpus text) only
    pays off when the result feeds several downstream actions."""
    if kernel:
        m = _shingle_set_udf(shingle_k).asNondeterministic()
        out = df.select(F.col(id_col), m(F.col(text_col)).alias("sh"))
    else:
        tok = df.select(
            F.col(id_col), F.expr(_tokens_sql(f"`{text_col}`")).alias("_t"))
        out = tok.select(
            F.col(id_col),
            F.array_distinct(
                F.expr(_shingles_sql("_t", shingle_k))).alias("sh"),
        )
    if persist:
        out = out.persist(StorageLevel.DISK_ONLY)
    return out


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                hash_fn: str | None = None) -> DataFrame:
    """Keep one representative (min id) per exact text digest.

    Returns (digest, keep_id, n_copies). ``dropDuplicates`` semantics but
    with a deterministic representative and a copy count. ``hash_fn``
    defaults to md5 (cross-engine oracle parity) or xxhash64 under
    `config.set_production(True)` — grouping semantics are identical,
    only the digest rendering differs."""
    if hash_fn is None:
        hash_fn = config.default_hash_fn()
    dig = (F.xxhash64(F.col(text_col)).cast("string")
           if hash_fn == "xxhash64" else F.md5(F.col(text_col)))
    return (
        df.select(dig.alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_hash_exprs(s, num_hashes: int = 8) -> list:
    """The ``num_hashes`` per-shingle hash expressions: 8-hex-char (32-bit)
    slices carved out of md5(group ':' shingle) — four hash functions per
    md5 evaluation, so H hashes cost ceil(H/4) digests instead of H.
    Lexicographic min over fixed-width hex equals numeric min, and the
    same substr(md5(...)) expressions run on any ANSI engine (oracle
    parity)."""
    out = []
    for g in range((num_hashes + 3) // 4):
        h = F.md5(F.concat_ws(":", F.lit(str(g)), s))
        for i in range(4):
            if g * 4 + i < num_hashes:
                out.append(F.substring(h, i * 8 + 1, 8))
    return out


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle_k: int = 3, _sh: DataFrame | None = None,
    hash_fn: str | None = None, kernel: bool = True,
) -> DataFrame:
    """(id, sig_0..sig_{H-1}): per-doc MinHash signature.

    sig_j = lexicographic min of hash_j over the doc's shingles (see
    `minhash_hash_exprs`; min is invariant under duplicate shingles, so no
    distinct pass is needed). No shuffle either way.

    ``kernel=True`` (default, r15) computes the whole chain in one Arrow
    pandas_udf (`_minhash_sig_udf`) when the hash is md5 and the input is
    raw text — bit-identical and ~7x less task CPU than the interpreted
    HOF chains (guide §4.2). The xxhash64 production path and explicit
    ``_sh`` inputs keep the JVM formulation.

    ``kernel=False`` (the JVM reference path): entirely JVM-side, NO
    persist barriers — each stage (tokens -> shingles -> digest arrays ->
    mins) is its own Project whose aliases are referenced multiple times
    downstream, and Catalyst's CollapseProject declines to inline a
    non-cheap alias referenced more than once, so split/shingle/md5 each
    evaluate exactly once per row. The digest stage materializes
    ceil(H/4) md5 digests per shingle transiently (per row, never
    stored), and each sig_j is an array_min over cheap substring slices
    of those digests. Measured ~3x faster than either a
    fold-with-running-min or a persisted shingle stage with one md5 per
    hash function.
    """
    if hash_fn is None:
        hash_fn = config.default_hash_fn()
    if kernel and _sh is None and hash_fn == "md5":
        m = _minhash_sig_udf(num_hashes, shingle_k).asNondeterministic()
        staged = df.select(
            F.col(id_col), m(F.col(text_col)).alias("_sig"))
        return staged.select(
            F.col(id_col),
            *[F.col("_sig")[j].alias(f"sig_{j}")
              for j in range(num_hashes)],
        )
    if _sh is not None:
        staged = _sh.withColumnRenamed("sh", "_shg")
    else:
        tok = df.select(
            F.col(id_col),
            F.expr(_tokens_sql(f"`{text_col}`")).alias("_t"))
        staged = tok.select(
            F.col(id_col),
            F.expr(_shingles_sql("_t", shingle_k)).alias("_shg"))
    if hash_fn == "xxhash64":
        # the documented production swap: one JVM xxhash64 per hash
        # function (seeded by the function index literal), numeric min
        # over longs — same plan shape (Project + array_min). Measured
        # at sf0.1/H=8 it is roughly break-even (0.9-1.1x) with the md5
        # path, because md5 already amortizes 4 hash functions per
        # digest; the swap's value is per-hash cost at larger H and
        # dropping the hex-string materialization, not a headline win
        # (SCALE.md, round-9 production-knob table)
        return staged.select(
            F.col(id_col),
            *[
                F.expr(f"array_min(transform(_shg, s -> xxhash64({j}, s)))")
                .alias(f"sig_{j}")
                for j in range(num_hashes)
            ],
        )
    n_dig = (num_hashes + 3) // 4

    dg = staged.select(
        F.col(id_col),
        *[
            F.expr(f"transform(_shg, s -> md5(concat_ws(':', '{g}', s)))")
            .alias(f"_d{g}")
            for g in range(n_dig)
        ],
    )
    return dg.select(
        F.col(id_col),
        *[
            F.expr(f"array_min(transform(_d{j // 4}, "
                   f"d -> substring(d, {(j % 4) * 8 + 1}, 8)))")
            .alias(f"sig_{j}")
            for j in range(num_hashes)
        ],
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id",
    num_hashes: int = 8, band_rows: int = 2, hash_fn: str | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH band.

    Bands: hash of ``band_rows`` consecutive signature components. The
    band-key equi-join is the only shuffle; its skew is bounded because a
    band key collision requires all rows in the band to agree.
    """
    if hash_fn is None:
        hash_fn = config.default_hash_fn()
    bands = []
    for b in range(num_hashes // band_rows):
        parts = ", ".join(
            f"sig_{b * band_rows + r}" for r in range(band_rows))
        if hash_fn == "xxhash64":
            key = f"cast(xxhash64({b}, {parts}) as string)"
        else:
            key = f"md5(concat_ws('|', {parts}))"
        bands.append(f"named_struct('band', {b}, 'key', {key})")
    e = sigs.select(
        F.col(id_col),
        F.explode(F.expr("array(" + ",".join(bands) + ")")).alias("bk"))
    a = e.select(F.col(id_col).alias("id_a"), F.col("bk").alias("k"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("bk").alias("k"))
    return (
        a.join(b, "k")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _exceeds_one_split(df: DataFrame) -> bool:
    """Catalyst size estimate for ``df`` exceeds one scan split — the
    shared input-size-derived flip (`text._input_exceeds_one_split`;
    lazy import: text.py imports this module). False on streaming
    frames or estimation failure (callers degrade to the small-input
    plan)."""
    from oxbow_spark.operators.text import _input_exceeds_one_split

    return _input_exceeds_one_split(df)


def minhash_dedup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, band_rows: int = 2, shingle_k: int = 3,
    threshold: float = 0.5, storage_level: StorageLevel | None = None,
    eager_barriers: bool = True, hash_fn: str | None = None,
    kernel: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidate pairs verified >= threshold.

    100 TB layout — nothing corpus-sized is ever retained:
    - signatures stream straight out of the scan (`minhash_signatures` —
      no persist of tokens or shingles anywhere); only the signature frame
      (num_hashes 8-char strings per doc, ~corpus/100) and the candidate
      pair list persist, at ``storage_level`` (default MEMORY_AND_DISK —
      both frames are small by construction and spill, not OOM, under
      pressure; pass DISK_ONLY or checkpoint on memory-tight clusters).
      They are each consumed by two downstream branches (band self-join;
      pair verify + id semi-join).
    - the Jaccard verify re-reads ONLY candidate-pair docs (broadcast
      semi-join on the candidate id set — if candidates ever exceed
      broadcast limits, drop the hint and AQE/sort-merge takes over) and
      recomputes their shingle sets; the pairwise join is left to AQE,
      which broadcasts whichever side is small.
    ``eager_barriers=True`` (default) materializes the two persists up
    front so the self-join branches cannot race a cold cache and compute
    the signature subtree twice; both barriers are tiny jobs.
    """
    level = (
        storage_level if storage_level is not None
        else StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, hash_fn=hash_fn,
        kernel=kernel,
    ).persist(level)
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, band_rows,
                               hash_fn=hash_fn).persist(level)
    if eager_barriers:
        # noop-sink writes, not count(): a count over the about-to-be-
        # cached frame pays an extra partial/final agg exchange (2 more
        # AQE stage jobs per barrier, ~50-80 ms each of pure scheduling
        # on any driver); the noop write materializes the cache in the
        # minimum number of stages and moves zero rows to the driver.
        sigs.write.format("noop").mode("overwrite").save()
        cand.write.format("noop").mode("overwrite").save()
    # No distinct: the broadcast hash relation dedups keys on build, so
    # the exchange+aggregate a distinct would add buys nothing — the
    # collected broadcast side is 2·|pairs| rows of one id column,
    # the same order as the pair list that must already be broadcast-
    # small for this plan (see the fallback note above). One explode
    # pass instead of union-of-two-projections keeps it a single
    # narrow stage over the persisted pair frame.
    ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col))
    cand_docs = df.join(F.broadcast(ids), id_col, "left_semi")
    # Persisted so the pair join's two branches share one corpus re-scan
    # and one shingle pass; bounded small (candidate docs only). The
    # shingle set stays on the JVM expression path regardless of
    # ``kernel``: measured at sf0.1 the expression chain is cheap (0.7 s
    # task CPU at 32 tasks) while an Arrow stage pays ~60 ms/task of
    # boundary overhead (2.0 s) — `shingle_stage(kernel=True)` remains
    # available where partitions are real-sized.
    tok = cand_docs.select(
        F.col(id_col), F.expr(_tokens_sql(f"`{text_col}`")).alias("_t"))
    sh_cand = tok.select(
        F.col(id_col),
        F.array_distinct(
            F.expr(_shingles_sql("_t", shingle_k))).alias("sh"),
    ).persist(level)
    a = sh_cand.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh_cand.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    # Above one scan split of corpus, the shingle-set sides must never
    # be broadcast: Catalyst's estimate for sh_cand (downstream of a
    # semi-join) is unreliable (guide §3.1), and the r16 sf100 decade
    # run measured the planner picking BuildRight on the (id_b, sh_b)
    # side — a 1.3 GiB driver collect that aborts on
    # spark.driver.maxResultSize (the shingle arrays are ~3x the
    # candidate docs' text). A merge hint on the shingle sides forces
    # sort-merge (spills gracefully, shuffles only candidate-scale
    # bytes); `cand` (two longs per pair, already broadcast for the
    # semi-join) keeps its broadcast. Below one split the whole corpus
    # is one task's worth of bytes and the measured-fast broadcast plan
    # stands (same input-size-derived discipline as `_tp`/bm25).
    if _exceeds_one_split(df):
        a, b = a.hint("merge"), b.hint("merge")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _simhash_udf(bits: int):
    """Arrow kernel for `simhash`: one pandas_udf computing the whole
    fingerprint per text. Bit-identical to the expression path by
    construction — same tokenizer (`_py_tokens` ≡ split(trim, '\\s+')),
    same md5 (of the token's UTF-8 bytes, as the JVM computes it), same
    parity rule (ascii of the i-th hexdigest char mod 2), same integer
    vote arithmetic — pinned by tests/test_text_kernels.py. Per-batch
    token→±1-vector memo: corpora repeat tokens heavily, so most
    lookups skip the md5 entirely."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def k(texts: pd.Series) -> pd.Series:
        import hashlib

        memo: dict[str, np.ndarray] = {}
        out = np.zeros(len(texts), dtype=np.int64)
        weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
        for r, s in enumerate(texts):
            counts: dict[str, int] = {}
            for t in _py_tokens(s):
                counts[t] = counts.get(t, 0) + 1
            votes = np.zeros(bits, dtype=np.int64)
            for t, c in counts.items():
                v = memo.get(t)
                if v is None:
                    h = hashlib.md5(t.encode("utf-8")).hexdigest()[:bits]
                    v = (np.frombuffer(h.encode("ascii"), dtype=np.uint8)
                         .astype(np.int64) % 2) * 2 - 1
                    memo[t] = v
                votes += c * v
            out[r] = int(weights[votes > 0].sum())
        return pd.Series(out)

    return k


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16, kernel: bool | None = None) -> DataFrame:
    """Per-doc SimHash fingerprint over ``bits`` bit positions (<= 32).

    Bit source: parity of the i-th hex digit of md5(token) — engine-portable
    and deterministic. Bit voting is PER ROW (r15): the md5 array is
    staged once per doc and each bit folds it with an `aggregate` HOF —
    no explode, no shuffle at all. ``kernel=True`` computes the whole
    fingerprint in one Arrow pandas_udf instead (`_simhash_udf`,
    bit-identical — pinned by tests/test_text_kernels.py).

    ``kernel=None`` (default, r16) derives the route from estimated
    input bytes PER TASK (`text._arrow_kernel_pays`, the `_tp`
    discipline): tiny per-task batches (~19 KB/task = ~150 docs at
    sf0.1/cpus=32) lose the fixed Arrow boundary cost to the saturating
    HOF fold (interleaved sf0.1 A/B: kernel 0.46 vs JVM 0.30 s), while
    real-sized tasks amortize it and the kernel's ~3x lower per-row CPU
    dominates (interleaved sf10 A/B at cpus=32: kernel 2.88 vs JVM
    8.69 s — tools/bench_kernels_scale.py). Both formulations are
    bit-identical, so the route never changes results. The null filter
    keeps the explode semantics for null text (the doc is absent, as
    with unnest on the oracle)."""
    if kernel is None:
        from oxbow_spark.operators.text import _arrow_kernel_pays

        kernel = _arrow_kernel_pays(df)
    if kernel:
        fp = _simhash_udf(bits).asNondeterministic()
        return (df.where(F.col(text_col).isNotNull())
                .select(F.col(id_col), fp(F.col(text_col)).alias("simhash")))
    tok = df.select(
        F.col(id_col), F.expr(_tokens_sql(f"`{text_col}`")).alias("_t"))
    h = (tok.where(F.col("_t").isNotNull())
         .select(id_col, F.expr("transform(_t, t -> md5(t))").alias("_h")))
    votes = h.select(
        id_col,
        *[
            F.expr(
                f"aggregate(_h, 0, (acc, x) -> acc + (case when "
                f"ascii(substring(x, {i + 1}, 1)) % 2 = 1 "
                "then 1 else -1 end))").alias(f"v{i}")
            for i in range(bits)
        ],
    )
    comp = " + ".join(
        f"(case when v{i} > 0 then {1 << i} else 0 end)" for i in range(bits))
    return votes.select(
        F.col(id_col), F.expr(f"cast(0 + {comp} as bigint)").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame, block_col: str, text_col: str = "text", id_col: str = "doc_id",
    shingle_k: int = 3, threshold: float = 0.2,
) -> DataFrame:
    """All-pairs n-gram Jaccard within blocks (per-``block_col`` groups).

    The block is the scale guard: pairs are only formed inside a block, so
    cost is sum(|block|^2), not |corpus|^2. For unblocked near-dup at scale
    use ``minhash_dedup_pairs``.
    """
    tok = df.select(
        F.col(block_col).alias("blk"), F.col(id_col),
        tokens(F.col(text_col)).alias("_t"),
    )
    # No persist: the two self-join branches each recompute the shingle
    # chain (two scans of the blocked subset), which at scale is cheaper
    # than materializing a ~10x-corpus shingle-array frame.
    sh = tok.select(
        "blk", F.col(id_col),
        F.array_distinct(shingles_of(F.col("_t"), shingle_k)).alias("sh"),
    )
    a = sh.select("blk", F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select("blk", F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("blk", "id_a", "id_b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
