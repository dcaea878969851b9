"""Physical-plan shape guards: the properties that make the headline
queries survive a 100x scale-up, asserted from `.explain` output so a
regression (a lost broadcast, a filter that stops pushing, a nested-loop
join sneaking in) fails CI before it fails a cluster.
"""

from __future__ import annotations

import pytest

from oxbow_spark.queries import registry as R


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_q5_broadcasts_every_dimension(spark, sf):
    """q5's five dimension joins must all be broadcasts — lineitem (the
    fact side) never shuffles before the final aggregate."""
    plan = _plan(R.q5_nation_revenue(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_range_filter_pushes_to_scan(spark, sf):
    """Both the event_type equality and the ts range must reach the
    parquet scan's PushedFilters (row-group pruning at scale)."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    plan = _plan(R.range_filter_events(spark, sf))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    line = pushed[0]
    assert "EqualTo(event_type,click)" in line, line
    assert "GreaterThanOrEqual(ts" in line and "LessThan(ts" in line, line


def test_scan_project_prunes_columns(spark, sf):
    """A 4-column projection must read exactly those columns
    (ReadSchema pruning), not the full 16-column lineitem."""
    plan = _plan(R.scan_project_limit(spark, sf))
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"):
        assert col in rs, rs
    assert "l_comment" not in rs and "l_shipdate" not in rs, rs


def test_interval_join_is_binned_equi_join(spark, sf):
    """The interval-overlap join must plan as a (chrom, bin) hash
    equi-join, never a nested-loop/cartesian O(n*m) product."""
    plan = _plan(R.interval_overlap_join(spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan), plan


def test_topk_lsh_broadcasts_probe_side(spark, sf):
    """ANN candidate generation joins the (tiny) query probe frame by
    broadcast; the corpus side stays partition-parallel."""
    plan = _plan(R.sim_topk_lsh(spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_q1_partial_aggregates_map_side(spark, sf):
    """The pricing summary must partial-aggregate before its single
    exchange (map-side combine: the shuffle carries 6 groups, not 60k
    rows)."""
    plan = _plan(R.q1_pricing_summary(spark, sf))
    first_exchange = plan.find("Exchange")
    first_agg = plan.find("HashAggregate")
    assert first_exchange != -1 and first_agg != -1
    # plan prints top-down: final agg, exchange, partial agg, scan —
    # a partial HashAggregate must appear BELOW (after) the exchange
    assert "HashAggregate" in plan[first_exchange:], plan


def test_minhash_has_no_cartesian(spark, sf):
    """MinHash candidate generation is a band-key self-join — any
    cartesian in the plan means the blocking broke."""
    plan = _plan(R.dedup_minhash_docs(spark, sf))
    assert "CartesianProduct" not in plan, plan


def test_salted_join_shuffles_on_salted_key(spark, sf):
    """The salted join's exchanges must hash on (key, salt), spreading a
    hot key over n_salts reducers."""
    plan = _plan(R.salted_join_lineitem(spark, sf))
    assert "_salt" in plan, plan
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_stats_no_big_shuffle_joins(spark, sf):
    """BM25's corpus stats (1 row) and per-term df (|terms| rows) must
    broadcast onto the match frame; the match frame never sort-merge
    joins. (The single-row stats crossJoin legitimately plans as a
    broadcast nested loop — that is the broadcast, not a cartesian over
    data.)"""
    plan = _plan(R.bm25_topk_docs(spark, sf))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Broadcast") >= 2, plan


def test_repetition_is_pure_project(spark, sf):
    """Repetition metrics must stay shuffle-free end-to-end over the real
    documents table — Projects only. The one allowed exchange is the
    adaptive small-input round-robin fan-out (`registry._tp`): a
    sub-split input file scans as a single task, so the reader spreads
    it; the OPERATOR itself must never hash-shuffle or join."""
    plan = _plan(R.repetition_docs(spark, sf))
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Join" not in plan, plan


def test_resample_mixture_is_pushdown_friendly_filter(spark, sf):
    """Mixture resampling is a plain Filter over the scan — no shuffle,
    no join, and column pruning still reaches the parquet read."""
    df = R.resample_mixture_docs(spark, sf)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    opt = _opt(df)
    assert "Filter" in opt, opt


def test_q6_all_predicates_pushed(spark, sf):
    """q6 is pure scan+agg: the shipdate/discount/quantity filters must
    reach PushedFilters and the plan must contain no join at all."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    plan = _plan(R.q6_forecast_revenue(spark, sf))
    assert "Join" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed \
        and "LessThan(l_quantity" in pushed, pushed


def test_q10_broadcasts_dimensions(spark, sf):
    """q10's customer and nation joins must broadcast; the fact side
    shuffles only for the per-customer aggregate."""
    plan = _plan(R.q10_returned_items(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_q18_having_filter_precedes_joins(spark, sf):
    """q18's heavy-order reduction must aggregate lineitem BEFORE the
    joins (the optimized plan joins onto an Aggregate subtree), and both
    joins broadcast the small sides."""
    plan = _plan(R.q18_large_volume_customers(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    opt = _opt(R.q18_large_volume_customers(spark, sf))
    join_pos = opt.find("Join")
    agg_pos = opt.rfind("Aggregate")
    assert join_pos != -1 and agg_pos > join_pos, opt  # agg inside join subtree


def test_q19_broadcast_part_quantity_envelope_pushed(spark, sf):
    """q19's part join must broadcast, and the OR-ed quantity bands must
    still yield a pushed quantity envelope on the lineitem scan."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    plan = _plan(R.q19_disjunctive_revenue(spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln for ln in pushed), plan


def test_decontaminate_broadcasts_benchmark(spark, sf):
    """Decontamination must broadcast the benchmark gram set — the
    corpus side never shuffles to find matches."""
    plan = _plan(R.decontaminate_docs(spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_ngram_lm_plan_broadcasts_constants_no_cartesian(spark, sf):
    """LM scoring: the (N, V) model constants ride a broadcast 1-row
    cross join (BroadcastNestedLoopJoin over one row is fine); the
    token-key joins must never degenerate into a CartesianProduct, and
    the count aggregations must have map-side partials."""
    from oxbow_spark.operators.text import ngram_lm_score

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(ngram_lm_score(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row constants join
    assert "partial_count" in plan or "partial" in plan, plan


def test_dup_span_plan_no_cartesian_partial_aggs(spark, sf):
    """Dup-span stats: gram counting is a partial/final hash agg; the
    gram join-back and per-doc merges never go nested-loop."""
    from oxbow_spark.operators.text import dup_span_stats

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(dup_span_stats(docs, k=3))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_merge_split_bp_no_extra_shuffle_explosion(spark, sf):
    """The chunked merge adds exactly the per-(chrom, chunk) window and
    the tiny stitch window — no join, no cartesian."""
    from oxbow_spark.operators.interval_ops import merge_intervals

    ev = spark.read.parquet(f"{sf}/events.parquet").selectExpr(
        "event_type AS chrom",
        "CAST(unix_timestamp(ts) AS LONG) AS start",
        "CAST(unix_timestamp(ts) + 300 AS LONG) AS end")
    plan = _plan(merge_intervals(ev, split_bp=1 << 16))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan  # union + windows only


def test_trigram_lm_plan_no_cartesian(spark, sf):
    """order=3 LM: count-frame joins stay hash joins (vocab-sized
    sides), the constants ride the 1-row broadcast, no cartesian."""
    from oxbow_spark.operators.text import ngram_lm_score

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(ngram_lm_score(docs, order=3))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row constants join
    assert "HashAggregate" in plan, plan


def test_liftover_minmatch_plan_broadcasts_chains(spark, sf):
    """-minMatch interval liftover: the binned block table broadcasts
    into the candidate join; the per-(row, chain) aggregate has
    map-side partials; nothing goes nested-loop/cartesian."""
    from oxbow_spark.operators.liftover import (chain_frame,
                                                liftover_intervals,
                                                parse_chain)

    text = ("chain 1000 click 2097152 + 0 1048576 click_new 2097152 + "
            "1000000 2048576 1\n1048576\n")
    chains = chain_frame(spark, parse_chain(text))
    ev = spark.read.parquet(f"{sf}/events.parquet").selectExpr(
        "event_id", "event_type AS chrom",
        "CAST(event_id % 1000000 AS BIGINT) AS start",
        "CAST(event_id % 1000000 + 50 AS BIGINT) AS end")
    plan = _plan(liftover_intervals(ev, chains, min_match=0.95,
                                    id_col="event_id"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_coverage_map_plans_no_cartesian(spark, sf):
    """bedtools coverage/map: binned equi-joins + partial-agg groupBys;
    the values-key rejoin stays a hash join — nothing nested-loop."""
    from oxbow_spark.operators.interval_ops import (coverage_intervals,
                                                    map_intervals)

    ev = spark.read.parquet(f"{sf}/events.parquet").selectExpr(
        "event_id", "event_type AS chrom",
        "CAST(event_id % 100000 AS BIGINT) AS start",
        "CAST(event_id % 100000 + 300 AS BIGINT) AS end",
        "value")
    a = ev.where("event_id % 2 = 0").drop("value")
    b = ev.where("event_id % 2 = 1").drop("event_id")
    for df in (coverage_intervals(a, b, bin_size=512),
               map_intervals(a, b, bin_size=512, value_col="value")):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "HashAggregate" in plan, plan


def test_jaccard_multiinter_window_plan_shapes(spark, sf):
    """The three round-8 bedtools verbs keep the binned-equi-join
    discipline: no cartesian / nested-loop anywhere except jaccard's
    1x1 single-row combiners (which must be broadcasts)."""
    p = _plan(R.jaccard_intervals_events(spark, sf))
    assert "CartesianProduct" not in p, p
    # merged-block overlap join is a real equi-join; single-row agg
    # frames combine via broadcast nested loop (1x1 rows, by design)
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p), p

    p = _plan(R.multiinter_intervals_events(spark, sf))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p), p

    p = _plan(R.window_intervals_events(spark, sf))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p), p


def test_round9_interval_verbs_plan_shapes(spark, sf):
    """cluster / makewindows / spacing / reldist / shuffle keep the
    discipline: no cartesian or nested-loop joins anywhere; shuffle is
    a pure Project over one broadcast sizes join (zero Exchange beyond
    the broadcast); cluster's chunked merge windows key on (chrom,
    chunk) and its chrom-offset join is a broadcast."""
    for fn in (R.cluster_intervals_events, R.spacing_intervals_events):
        p = _plan(fn(spark, sf))
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p

    # reldist's one BroadcastNestedLoopJoin is the 1-row histogram
    # total rider (jaccard's single-row-combiner pattern, by design)
    p = _plan(R.reldist_intervals_events(spark, sf))
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p

    p = _plan(R.shuffle_intervals_events(spark, sf))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "Exchange hashpartitioning" not in p, p   # no real shuffle

    p = _plan(R.make_windows_events(spark, sf))
    assert "Join" not in p, p                        # generator only
    assert p.count("Generate explode") >= 2, p       # two-level fan-out

    # the main merge pass must window on (chrom, chunk); the tiny
    # stitch re-merge and the per-chrom run numbering legitimately
    # window on chrom alone (both are O(runs), not corpus-sized)
    o = _opt(R.cluster_intervals_events(spark, sf))
    w_specs = [ln for ln in o.splitlines()
               if "windowspecdefinition" in ln and "_s#" in ln]
    assert any("_k#" in ln for ln in w_specs), o


def test_variant_isec_merge_plan_shapes(spark, sf):
    """isec's full-outer join and merge's single groupBy tree: no
    cartesian, no nested loop, and merge never builds a join at all
    (tagged union + aggregate only)."""
    p = _plan(R.variant_isec_events(spark, sf))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "FullOuter" in p, p

    p = _plan(R.variant_merge_events(spark, sf))
    assert "Join" not in p, p
    assert "Union" in p, p


def test_fasta_ops_and_stream_asof_plan_shapes(spark, sf):
    """getfasta's tile join stays an equi-join (no cartesian / nested
    loop); maskfasta composes the same machinery; stream_asof's stream
    side sees only BROADCAST joins — the static side may shuffle, the
    stream side must not."""
    p = _plan(R.getfasta_intervals_events(spark, sf))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p

    from pyspark.sql import functions as F

    from oxbow_spark.operators.nuc import maskfasta_intervals
    from oxbow_spark.streaming.ops import stream_asof

    seqs = spark.createDataFrame([("c1", "ACGT" * 50)],
                                 "name string, seq string")
    iv = spark.createDataFrame([("c1", 3, 9)],
                               "chrom string, start long, end long")
    p = _plan(maskfasta_intervals(seqs, iv, tile_bp=64))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p

    l = spark.createDataFrame([("a", 10, "x")],
                              "u string, v long, lp string")
    r = spark.createDataFrame([("a", 5, "y")],
                              "u string, v long, rp string")
    p = _plan(stream_asof(l, r, on="v", by="u", bucket=16))
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_shingle_explode_survives_filter_pushdown_inlining(spark):
    """Regression guard for the InferFiltersFromGenerate trap: exploding
    a STAGED shingle column makes the optimizer infer
    `size(sh) > 0 AND isnotnull(sh)` under the Generate, and predicate
    pushdown substitutes the alias chain through the staged Projects —
    if `shingles_of` referenced its token array as an outer column, the
    filter's copy would get `split(trim(text))` as the per-element
    `element_at` operand, O(tokens²) per doc (measured 37.7 s for ONE
    10k-token doc vs 0.30 s let-bound). The let-binding makes every
    lambda operand a lambda variable, so NO lambdafunction body in the
    optimized plan may contain a split() call — however the optimizer
    rewrites the tree."""
    from pyspark.sql import functions as F

    from oxbow_spark.operators.dedup import shingle_stage, shingles_of

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y")], "doc_id long, text string")
    exploded = shingle_stage(df).select(
        "doc_id", F.explode("sh").alias("g"))
    plan = exploded._jdf.queryExecution().optimizedPlan().toString()
    for frag in plan.split("lambdafunction(")[1:]:
        body = frag.split(", lambda", 1)[0]
        assert "split(" not in body, plan
    # values unchanged by the let-binding (k=3 window + short-doc leg)
    got = {r.doc_id: r.g for r in exploded.collect() if r.doc_id == 2}
    assert got == {2: "x y"}
    rows = df.select(shingles_of(F.split("text", " ")).alias("sh")) \
        .collect()
    assert rows[0].sh == ["a b c", "b c d", "c d e", "d e f", "e f g"]


def _lambda_bodies(plan: str) -> list[str]:
    """Every lambdafunction's BODY (first top-level argument) from an
    optimized-plan string, by paren matching — nested lambdas included.
    Any derived big-value call (split/array_sort of a non-variable)
    inside a body is re-evaluated PER ELEMENT by interpreted HOF eval,
    so guards assert bodies reference only lambda variables."""
    out = []
    i = 0
    while True:
        j = plan.find("lambdafunction(", i)
        if j < 0:
            return out
        k = j + len("lambdafunction(")
        depth, m = 1, k
        while m < len(plan) and depth > 0:
            depth += {"(": 1, ")": -1}.get(plan[m], 0)
            # the body ends at the first top-level comma
            if depth == 1 and plan[m] == ",":
                break
            m += 1
        out.append(plan[k:m])
        i = k


def test_repetition_filter_pushdown_keeps_lambdas_let_bound(spark):
    """Filtering on repetition_ok (what curate_corpus does) pushes the
    whole metric tree into a Filter below the staged Projects,
    substituting `split(trim(text))` for the token-array aliases. With
    attribute operands inside the run/bigram lambdas that substitution
    re-evaluated the split PER ELEMENT — one 10k-distinct-token doc did
    not finish in 540 s (0.17 s unfiltered); let-bound, 160k tokens
    filter in 0.31 s. Guard: no lambda BODY in the optimized filtered
    plan may call split() — derived trees may appear only as HOF
    arguments, which evaluate once per row."""
    from pyspark.sql import functions as F

    from oxbow_spark.operators.text import repetition_stats

    ok = " ".join(f"word{i}" for i in range(40))  # passes every gate
    bad = "spam spam spam spam spam"              # top_token_frac = 1
    df = spark.createDataFrame(
        [(1, ok), (2, bad)], "doc_id long, text string")
    # kernel=False: this guard is about the retained EXPRESSION
    # formulation (the r15 Arrow kernel has no lambdas to de-let-bind;
    # its own duplication guard lives in test_text_kernels.py)
    filtered = repetition_stats(df, kernel=False).where(
        F.col("repetition_ok")).select("doc_id")
    plan = filtered._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" in plan  # the substitution did happen...
    for body in _lambda_bodies(plan):
        assert "split(" not in body, body  # ...but never inside a lambda
    # values unchanged by the let-binding
    got = {r.doc_id for r in filtered.collect()}
    assert got == {1}


def test_curation_consumer_plans_keep_lambdas_let_bound(spark):
    """Repo-wide lint for SCALE.md fact #5 across the curation-pipeline
    consumer shapes that filter or explode staged token-array columns:
    every lambdafunction body in each optimized plan must be free of
    split() calls — the raw tokenizer appearing inside a body means
    the optimizer substituted a staged alias into a per-element
    position, the O(n_tokens x tree) shape that cost 37.7-540+ s per
    large document before the round-12 let-bindings. (array_sort &
    co. over a LET-BOUND lambda variable are fine: they evaluate once
    per binding, i.e. once per row.)"""
    from pyspark.sql import functions as F

    from oxbow_spark.operators import text as text_ops
    from oxbow_spark.operators.decontam import ngram_decontaminate
    from oxbow_spark.operators.dedup import minhash_signatures
    from oxbow_spark.operators.pipeline import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "k l m")],
        "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c d e")],
                                  "doc_id long, text string")
    shapes = {
        "quality_passes": text_ops.quality_score(df)
        .where(F.col("passes")).select("doc_id"),
        "repetition_ok": text_ops.repetition_stats(df)
        .where(F.col("repetition_ok")).select("doc_id"),
        "ppl_gate": text_ops.ngram_lm_score(df)
        .where(F.col("ppl").isNotNull() & (F.col("ppl") <= 1e6))
        .select("doc_id"),
        "span_removed_regate": text_ops.remove_dup_spans(df)
        .where(F.size(F.split(F.trim(F.col("clean_text")), r"\s+")) >= 1)
        .select("doc_id"),
        "minhash_sigs": minhash_signatures(df),
        "decontaminate": ngram_decontaminate(df, bench),
        "chunks_filtered": chunk_documents(df)
        .where(F.length("chunk_text") > 0),
    }
    for name, frame in shapes.items():
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        for body in _lambda_bodies(plan):
            assert "split(" not in body, (name, body)


# ---------------------------------------------------------------------------
# Repo-wide SCALE.md fact-#5 sweep (round 13): every registered operator's
# canonical invocation, driven through the substitution-triggering consumer
# shapes, must keep its lambda bodies free of big-value builders.
# ---------------------------------------------------------------------------

#: row-sized big-value BUILDERS: a call to any of these inside a
#: lambdafunction BODY means the optimizer substituted a staged alias
#: (or the author referenced the raw tree) into a per-element position —
#: interpreted HOF eval re-runs it per element, O(elements × row-value)
#: (SCALE.md fact #5; measured 37.7-540+ s per large doc in r11/r12).
#: As HOF *arguments* (outside bodies) they are fine: one eval per row.
#: array_sort/sequence/slice over LAMBDA VARIABLES are element-bounded
#: and legitimate — the ban is on the string→big-value tokenizers that
#: every measured pathology traced to.
_BIG_VALUE_BUILDERS = (
    "split(", "sentences(", "regexp_extract_all(", "str_to_map(",
    "from_json(", "json_tuple(", "get_json_object(", "from_csv(",
)


def _lambda_violations(frame) -> list[tuple[str, str]]:
    """(builder, body-prefix) pairs for every banned builder call inside
    any lambdafunction body of the frame's OPTIMIZED plan."""
    plan = _opt(frame)
    return [(tok, body[:160])
            for body in _lambda_bodies(plan)
            for tok in _BIG_VALUE_BUILDERS if tok in body]


def _consumer_shapes(df):
    """The substitution-triggering consumer shapes, per output column:
    a user filter + prune (PushDownPredicates substitutes alias chains
    through staged Projects) and, for array columns, an explode
    (InferFiltersFromGenerate adds the size/isnotnull filter that
    round 12's headline pathology rode in on)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType

    first = df.columns[0]
    shapes = [("plain", df)]
    for f in df.schema.fields:
        shapes.append((f"filter+prune:{f.name}",
                       df.where(F.col(f.name).isNotNull()).select(first)))
        if isinstance(f.dataType, ArrayType):
            shapes.append((f"explode:{f.name}",
                           df.select(F.explode(F.col(f.name)))))
    return shapes


def _registry_names():
    import __spark_entry__ as entry

    return sorted(entry.queries())


@pytest.mark.parametrize("qname", _registry_names())
def test_registry_lambda_bodies_survive_consumer_shapes(spark, sf, qname):
    """Fact-#5 regression net over the WHOLE registry (VERDICT r12 top
    item — this class of bug was found by hand two rounds running):
    for every registered query, every lambdafunction body in the
    optimized plan must stay free of big-value builders under every
    filter/prune/explode consumer shape. A violation means a new or
    rewritten operator referenced a row-sized tree inside a lambda
    instead of let-binding it (`text._let_bound_grams_sql`,
    `dedup.shingles_of` are the model fixes)."""
    import __spark_entry__ as entry

    df = entry.queries()[qname](spark, sf)
    for shape, frame in _consumer_shapes(df):
        bad = _lambda_violations(frame)
        assert not bad, (qname, shape, bad)


def test_lambda_sweep_catches_de_let_bound_mutant(spark):
    """The sweep itself must trip on the shape it guards against: a
    deliberately de-let-bound shingle builder (the raw token tree as a
    lambda operand — the pre-r12 formulation) under the explode
    consumer puts split() inside a lambda body, and
    `_lambda_violations` must flag it."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a b c d e f")],
                               "doc_id long, text string")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    bad = df.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(2),
                                            F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        ).alias("sh"))
    exploded = bad.select("doc_id", F.explode("sh").alias("g"))
    assert _lambda_violations(exploded), _opt(exploded)


def test_tp_small_input_fans_out_and_preserves_results(spark, sf):
    """`registry._tp` (r15): a sub-split input file must gain scan
    parallelism (round-robin, never hash) and change no results —
    repetition metrics over `_tp` equal those over the plain read."""
    plain = R._t(spark, sf, "documents")
    fanned = R._tp(spark, sf, "documents")
    assert fanned.rdd.getNumPartitions() > plain.rdd.getNumPartitions()
    from oxbow_spark.operators import text

    a = sorted(map(tuple, text.repetition_stats(plain).collect()))
    b = sorted(map(tuple, text.repetition_stats(fanned).collect()))
    assert a == b


def test_sql_string_builders_match_column_builders(spark, sf):
    """r15 py4j reduction: the SQL-text expression builders
    (`_dot_chain_sql` / `_bucket_sql` / `_probe_sql` / string-input
    `ivf_list_order`) must evaluate bit-identically to the Column-API
    trees they replaced (same expression shape, different construction
    path)."""
    from pyspark.sql import functions as F

    from oxbow_spark.operators import similarity as S

    emb = R._t(spark, sf, "embeddings").limit(200)
    planes = S.random_hyperplanes(4, 64)

    # dots + bucket: Column path (via Column input) vs SQL path
    col_dots = S._plane_dots(F.col("embedding"), planes)
    sql_dots = S._plane_dots("embedding", planes)
    col_bucket = S._bucket_of(col_dots)
    sql_bucket = F.expr(S._bucket_sql("embedding", planes))
    col_probe = S._probe_array(col_dots, 3)
    sql_probe = F.expr(S._probe_sql("embedding", planes, 3))
    col_order = S.ivf_list_order(F.col("embedding"), planes)
    sql_order = S.ivf_list_order("embedding", planes)
    df = emb.select(
        *[d.alias(f"cd{i}") for i, d in enumerate(col_dots)],
        *[d.alias(f"sd{i}") for i, d in enumerate(sql_dots)],
        col_bucket.alias("cb"), sql_bucket.alias("sb"),
        col_probe.alias("cp"), sql_probe.alias("sp"),
        col_order.alias("co"), sql_order.alias("so"),
    )
    for r in df.collect():
        for i in range(len(planes)):
            assert r[f"cd{i}"] == r[f"sd{i}"]
        assert r["cb"] == r["sb"]
        assert r["cp"] == r["sp"]
        assert r["co"] == r["so"]

    # PQ LUTs: string path vs Column path over real codebooks
    cb = S.pq_fit(R._t(spark, sf, "embeddings"), m=8, ksub=16,
                  order_col="vec_id")
    lut_sql = S._pq_query_luts("embedding", cb)
    lut_col = S._pq_query_luts(F.col("embedding"), cb)
    lut_udf = S._pq_query_luts_udf(cb)(F.col("embedding"))
    for r in emb.limit(20).select(lut_sql.alias("a"),
                                  lut_col.alias("b"),
                                  lut_udf.alias("c")).collect():
        assert r["a"] == r["b"]
        # the Arrow kernel twin must be bit-identical to the SQL chain
        # (same left-to-right float64 accumulation) — pq_topk's approx
        # candidate scores, and with them the oracle row set, depend
        # on exact equality here
        assert r["a"] == r["c"]


def test_read_memo_bounded_on_regeneration(spark, sf, tmp_path):
    """VERDICT r15 #7: regenerating a file N times must leave at most ONE
    live memo entry per path — same-(app, path) keys with a stale
    mtime/size are evicted on insert into the one read memo
    (`session.read_parquet`), through both `registry._t` and
    `session.read_events` (the memo is a dict of lazy plans; without
    eviction it grows unboundedly for a long-lived session that rewrites
    its inputs)."""
    import os
    import shutil

    from oxbow_spark import session as sess

    work = str(tmp_path / "memo")
    os.makedirs(work)
    dst = os.path.join(work, "region.parquet")
    for i in range(4):
        shutil.copy(os.path.join(sf, "region.parquet"), dst)
        os.utime(dst, ns=(1_000_000_000 * (i + 1),) * 2)
        R._t(spark, work, "region")
    assert len([k for k in sess._READ_CACHE if k[1] == dst]) == 1

    edst = os.path.join(work, "events.parquet")
    for i in range(4):
        shutil.copy(os.path.join(sf, "events.parquet"), edst)
        os.utime(edst, ns=(1_000_000_000 * (i + 1),) * 2)
        sess.read_events(spark, work)
    assert len([k for k in sess._READ_CACHE if k[1] == edst]) == 1


def test_bm25_scale_conditional_persist(spark, sf):
    """VERDICT r15 #3/#4: bm25's plan scans+tokenizes the corpus three
    times; above one scan split the narrow base stage must persist (one
    InMemoryTableScan feeding the three branches), below it the persist
    must NOT fire (measured more expensive than two re-tokenizes of a
    sub-split file), and the result set must be identical either way."""
    from oxbow_spark.operators import text

    docs = R._t(spark, sf, "documents")
    # sub-split input: auto threshold must stay off (r16: the bm25 floor
    # is min(one split, 8 MB) — a driver-SF corpus is under both)
    assert text._input_exceeds_one_split(docs) is False
    assert text._input_exceeds_one_split(
        docs, floor_bytes=8 * 1024 * 1024) is False
    plain = text.bm25_topk(docs, ["the", "data", "model"], k=10)
    assert "InMemoryTableScan" not in _plan(plain)
    a = [tuple(r) for r in plain.collect()]
    spark.catalog.clearCache()
    # the auto derivation flips on input size vs maxPartitionBytes
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        assert text._input_exceeds_one_split(docs) is True
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    # forced persist = the above-threshold plan shape, identical rows
    forced = text.bm25_topk(docs, ["the", "data", "model"], k=10,
                            persist_base=True)
    assert "InMemoryTableScan" in _plan(forced)
    assert [tuple(r) for r in forced.collect()] == a
    spark.catalog.clearCache()


def test_minhash_verify_join_never_broadcasts_shingles_at_scale(spark, sf):
    """r16 sf100 decade finding: above one scan split the pair-verify
    joins must not broadcast the shingle-set sides — Catalyst's estimate
    for the persisted candidate frame (downstream of a semi-join) is
    unreliable, and the planner's BuildRight on (id_b, sh_b) was a
    1.3 GiB driver collect that aborted on spark.driver.maxResultSize.
    The merge hint flips with input size; rows are identical on both
    routes."""
    from oxbow_spark.operators import dedup

    docs = R._t(spark, sf, "documents")
    assert dedup._exceeds_one_split(docs) is False
    small = dedup.minhash_dedup_pairs(docs, num_hashes=8, band_rows=2,
                                      shingle_k=3, threshold=0.35)
    a = sorted(tuple(r) for r in small.collect())
    # below the split the measured-fast broadcast verify plan stands
    assert "SortMergeJoin" not in _plan(small)
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        assert dedup._exceeds_one_split(docs) is True
        big = dedup.minhash_dedup_pairs(docs, num_hashes=8, band_rows=2,
                                        shingle_k=3, threshold=0.35)
        plan = _plan(big)
        # both verify joins take the hinted sort-merge: the shingle
        # arrays never build a broadcast relation
        assert plan.count("SortMergeJoin") >= 2
        assert sorted(tuple(r) for r in big.collect()) == a
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.catalog.clearCache()


def test_simhash_scale_conditional_kernel(spark, sf):
    """r16: simhash's default route derives from estimated input bytes
    per task (`text._arrow_kernel_pays`): tiny per-task batches keep the
    zero-Python HOF fold, real-sized tasks take the 3x-cheaper Arrow
    kernel (sf10 A/B, tools/bench_kernels_scale.py), and the two
    formulations are bit-identical so the route never changes rows."""
    from oxbow_spark.operators import dedup, text

    docs = R._t(spark, sf, "documents")
    # driver SFs are sub-floor: the auto route must stay on the JVM path
    assert text._arrow_kernel_pays(docs) is False
    auto = dedup.simhash(docs)
    assert "ArrowEvalPython" not in _plan(auto)
    a = sorted(tuple(r) for r in auto.collect())
    # the derivation flips once a task holds more than one scan split
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        assert text._arrow_kernel_pays(docs) is True
        flipped = dedup.simhash(docs)
        assert "ArrowEvalPython" in _plan(flipped)
        # identical rows on both routes (the bit-equality battery in
        # test_text_kernels.py pins the kernel itself; this pins the
        # auto route end-to-end)
        assert sorted(tuple(r) for r in flipped.collect()) == a
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
