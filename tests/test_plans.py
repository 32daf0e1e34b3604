"""Physical-plan audits: the scale claims in operator docstrings must be
visible in the executed plans — pushed filters, pruned scans, broadcast
joins, window-limit pushdown, no cartesian products. These tests freeze the
plan *shape*, so a regression that silently degrades a plan (e.g. a lost
broadcast hint turning into a sort-merge join of a 5-row table) fails CI
even though results stay correct."""

from __future__ import annotations

import pytest

from osmpbf_spark.catalog import REGISTRY, all_queries
from tests.conftest import SF_DIR

all_queries()


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    p = plan_of(spark, "q_filter_pred")
    assert "PushedFilters: [" in p
    assert "l_quantity" in p.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark):
    p = plan_of(spark, "q_scan_project")
    rs = p.split("ReadSchema")[1][:200]
    assert "c_custkey" in rs and "c_comment" not in rs


def test_broadcast_join_is_broadcast(spark):
    p = plan_of(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_range_join_is_bnlj_over_broadcast(spark):
    p = plan_of(spark, "q_join_range")
    assert "BroadcastNestedLoopJoin" in p


def test_window_rank_has_group_limit(spark):
    p = plan_of(spark, "q_window_rank")
    assert "WindowGroupLimit" in p


def test_sort_limit_is_take_ordered(spark):
    p = plan_of(spark, "q_sort_limit")
    assert "TakeOrderedAndProject" in p


def test_grid_agg_has_partial_aggregation(spark):
    p = plan_of(spark, "q_grid_agg")
    # two HashAggregates around one exchange = map-side combine
    assert p.count("HashAggregate") >= 2 and "Exchange" in p


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n, q in REGISTRY.items()
        if not set(q.tags) & {"stream"}  # batch plans only; cheap to build
    ),
)
def test_no_cartesian_product(spark, name):
    """No query may degrade to CartesianProduct — the one join shape that
    cannot survive any scale-up. (BroadcastNestedLoopJoin over an
    explicitly broadcast small side is fine and asserted separately.)"""
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p, f"{name} plans a cartesian product"


def test_decontaminate_stop_filter_is_broadcast_anti(spark):
    """The stop-shingle prefilter must stay a broadcast ANTI join — a lost
    broadcast would shuffle the entire exploded corpus at 100 TB."""
    p = plan_of(spark, "q_decontaminate")
    assert "BroadcastHashJoin LeftAnti" in p.replace(
        "BroadcastHashJoin LeftAnti BuildRight", "BroadcastHashJoin LeftAnti"
    ) or ("LeftAnti" in p and "BroadcastHashJoin" in p)


def test_join_full_is_sort_merge(spark):
    """Full outer cannot broadcast; the plan must be one sort-merge join
    with both rare-predicate filters pushed to the scans."""
    p = plan_of(spark, "q_join_full")
    assert "SortMergeJoin" in p and "FullOuter" in p
    assert "PushedFilters: [" in p


def test_sim_lsh_broadcasts_probes_not_corpus(spark):
    """The LSH candidate join must broadcast the tiny probe list and stream
    the corpus — the reverse (broadcasting the corpus id->bucket table)
    ships the whole dataset to every executor at 100 TB. The broadcast
    subtree is the one carrying the probe explode and the vec_id<N_QUERIES
    pushed filter; the corpus scan stays on the streamed side."""
    p = plan_of(spark, "q_sim_search_lsh")
    assert "BroadcastHashJoin" in p
    stream, bcast = p.split("BroadcastExchange", 1)
    assert "Generate explode" in bcast and "LessThan(vec_id,5)" in bcast
    assert "FileScan parquet" in stream  # corpus streams, unbroadcast


def test_stateful_is_bucketed_not_per_key(spark):
    """s_stateful groups by the salt bucket, not the raw user key — the
    grouped-map dispatch amortization must not regress."""
    p = plan_of(spark, "s_stateful")
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsIn" in p
    assert "pmod" in p


def test_vec_quantize_is_map_only(spark):
    """Quantization must be a pure scan->project->generate pipeline: no
    exchange, no Python: the whole point is JVM-side HOFs."""
    p = plan_of(spark, "q_vec_quantize")
    assert "Exchange" not in p, "quantization should not shuffle"
    assert "Generate" in p  # posexplode
    assert "Python" not in p and "ArrowEval" not in p


def test_doc_pack_window_is_partitioned(spark):
    """Sequence packing must window per source shard — a global
    un-partitioned running sum would single-task the corpus at scale."""
    p = plan_of(spark, "q_doc_pack")
    assert "Window" in p
    w = p.split("Window")[1][:400]
    assert "source" in w  # partition spec carries the shard key
    assert p.count("Exchange") <= 2  # fanout + one hash exchange, no more


def test_token_freq_is_take_ordered(spark):
    """Top-k over the vocabulary plans a per-partition heap, not a global
    single-task sort of every distinct token."""
    p = plan_of(spark, "q_text_token_freq")
    assert "TakeOrderedAndProject" in p


def test_dedup_embed_single_band_join(spark):
    """r04 shape freeze: band candidates must come from ONE self-join on
    the exploded (band, key) pair over the checkpointed band frame — the
    r03 plan (one join per band + unionAll) re-ran the plane-dot folds 8x.
    LocalTableScan/checkpoint scan on both join sides; no Union above
    the candidate join; one Generate (posexplode)."""
    p = plan_of(spark, "q_dedup_embed")
    assert "Union" not in p, "per-band unionAll shape is back"
    # checkpointed band frame scans (not re-derived parquet+project chains)
    assert "Scan ExistingRDD" in p or "LocalTableScan" in p


def test_dedup_embed_candidate_dedup_is_one_keyed_exchange(spark):
    """r18 freeze (widened_distinct): the candidate pair dedup must be
    ONE key-hash exchange — repartition(n, id1, id2) BEFORE the distinct,
    REPARTITION_BY_NUM so AQE cannot coalesce the heavy per-pair dot
    verification back to one task, and the distinct's hash aggregate
    must reuse that exchange (no second ENSURE_REQUIREMENTS exchange on
    the pair key). The former fanout(distinct()) shape paid a coalesced
    1-task final aggregate plus a round-robin exchange whose
    sortBeforeRepartition local sort also ran on that one task
    (2 Exchange -> 1; 1.14s -> 0.83s isolated at sf0.1)."""
    for q in ("q_dedup_embed", "q_dedup_embed_scaleb"):
        p = plan_of(spark, q)
        pair_exchanges = [
            seg.split("\n")[0]
            for seg in p.split("Exchange hashpartitioning(id1")[1:]
        ]
        assert len(pair_exchanges) == 1, (q, pair_exchanges)
        assert "REPARTITION_BY_NUM" in pair_exchanges[0], (q, pair_exchanges)


def test_simhash_exact_bucket_exchange_is_keyed_repartition(spark):
    """r18 freeze: the (chunk, ckey) bucket exchange must be an explicit
    REPARTITION_BY_NUM — the keys frame is a few KB, so an
    ENSURE_REQUIREMENTS exchange got AQE-coalesced to one partition and
    the whole bucket/pair/hamming chain (~600k expanded rows, 339 ms CPU)
    ran single-task."""
    p = plan_of(spark, "q_dedup_simhash_exact")
    seg = [
        s.split("\n")[0]
        for s in p.split("Exchange hashpartitioning(chunk")[1:]
    ]
    assert len(seg) == 1, seg
    assert "REPARTITION_BY_NUM" in seg[0], seg


def test_text_repetition_scan_is_fanned_out(spark):
    """r18 freeze: the single-row-group documents scan must rebalance
    before the 3-gram HOF chain and the token explode — without it every
    stage of this query ran on ONE task (~0.75s single-task CPU). Each
    consumer subtree carries its own tiny round-robin exchange (their
    pushed scan filters differ, so the exchanges are not reusable).
    (q_pii_redact deliberately does NOT get this fix despite the same
    single-task profile — its contract is the zero-exchange scrub,
    pinned by test_pii_redact_is_map_only; rationale in its docstring.)"""
    p = plan_of(spark, "q_text_repetition")
    assert "RoundRobinPartitioning" in p


def test_dedup_clusters_pairs_checkpointed(spark):
    """r04 freeze: the propagation input must be a checkpoint scan, not a
    re-derivation of the prefix-blocking join per round."""
    p = plan_of(spark, "q_dedup_clusters")
    assert "Scan ExistingRDD" in p or "LocalTableScan" in p


def test_decontaminate_broadcasts_eval_index(spark):
    """r05 freeze: the plan must (a) read the exploded+hashed shingles
    from the eager checkpoint (xxhash64 runs once at build; the lineage
    cut is why the hash is not visible in this plan text), (b) build the
    bench index in ONE job — stop-list LeftAnti fused with the per-doc
    total as a Window over bench_id (the former groupBy + re-join shape
    serialized a second broadcast barrier) — and broadcast it into the
    containment join, (c) never shuffle the train corpus' shingles and
    never anti-join them either (the index is already stop-filtered, so
    the probe is redundant on the train side), (d) keep shuffle
    exchanges to stop-agg + window + final pair-agg."""
    p = plan_of(spark, "q_decontaminate")
    assert "ExistingRDD" in p  # checkpointed shingle table
    assert "LeftAnti" in p and p.count("BroadcastHashJoin") >= 2
    assert "Window" in p  # n_bench fused into the index build
    shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    assert shuffles <= 3, f"too many shuffle exchanges: {shuffles}"


def test_sim_ivf_broadcasts_probe_list(spark):
    """The IVF cell join must broadcast the probe list and stream the
    corpus (same invariant as LSH)."""
    p = plan_of(spark, "q_sim_search_ivf")
    assert "BroadcastHashJoin" in p


@pytest.mark.parametrize(
    "name",
    sorted(n for n, q in REGISTRY.items() if "stream" not in q.tags),
)
def test_no_pre_explode_udf_above_generate(spark, name):
    """No Python UDF whose inputs exist BEFORE an explode may be planned
    ABOVE the Generate: Spark extracts projected UDFs into an
    EvalPython node over Generate's OUTPUT, silently re-evaluating the
    UDF once per generated row (measured 219.8s vs 6.8s per k-means
    training round at 200k rows x 64 elements — similarity.py
    _kmeans_centroids_batch's barrier note; the Python twin of
    test_no_hof_inside_filter's Generate-inlining class). A UDF that
    CONSUMES the generated column is legitimate and not flagged."""
    import re

    p = plan_of(spark, name)

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" *+-("))

    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "EvalPython" not in ln:
            continue
        base = indent(ln)
        for j in range(i + 1, len(lines)):
            if indent(lines[j]) <= base:
                break
            if "Generate" in lines[j]:
                gen_out = set(re.findall(r"#\d+", lines[j].split("], ")[-1]))
                udf_args = set(re.findall(r"#\d+", ln))
                assert udf_args & gen_out, (
                    f"{name}: Python UDF over pre-explode inputs planned "
                    f"above Generate — re-evaluated per generated row:\n"
                    f"  {ln.strip()[:160]}\n  {lines[j].strip()[:160]}"
                )
                break


@pytest.mark.parametrize(
    "name",
    sorted(n for n, q in REGISTRY.items() if "stream" not in q.tags),
)
def test_no_hof_inside_filter(spark, name):
    """No higher-order function (transform/aggregate lambdas — Spark
    evaluates them INTERPRETED, not codegen) may end up inside a Filter
    node. The class bug: Generate's implicit size(col)>0 guard inlines a
    pre-projected array expression and gets pushed below the fanout
    exchange, re-running the whole HOF chain single-threaded per row
    (q_dedup_minhash measured 4.1s vs 0.4s at sf0.1 from exactly this;
    fix by exploding the expression inline)."""
    import re

    p = plan_of(spark, name)
    for m in re.finditer(r"Filter [^\n]*", p):
        line = m.group(0)
        assert "transform(" not in line and "aggregate(" not in line, (
            f"{name}: HOF evaluated inside a Filter: {line[:200]}"
        )


def test_lsh_bucket_store_partition_pruned_probing(spark, tmp_path):
    """r05 freeze of q_sim_search_lsh's 100 TB claim: with the corpus laid
    out bucket-partitioned (partitionBy('bucket') parquet — the LSH-store
    layout), probing reads ONLY the probed buckets' files. The probe
    predicate must appear as a PartitionFilter on the scan (directory
    pruning — no data file of an unprobed bucket is even opened), not a
    post-scan Filter, and the pruned scan must return exactly the rows a
    full-scan filter would."""
    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.similarity import _lsh_bucket_expr

    emb = load(spark, SF_DIR, "embeddings").withColumn(
        "bucket", _lsh_bucket_expr()
    )
    store = str(tmp_path / "lsh_store")
    emb.write.partitionBy("bucket").mode("overwrite").parquet(store)
    corpus = spark.read.parquet(store)
    # a plausible multiprobe set: 3 occupied buckets
    probes = [
        r.bucket
        for r in corpus.select("bucket").distinct().limit(3).collect()
    ]
    probed = corpus.filter(F.col("bucket").isin([int(b) for b in probes]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in pf, f"probe predicate not a partition filter: {pf}"
    # pruning is real: the scan's file index selects only probed dirs
    n_sel = probed.withColumn(
        "f", F.input_file_name()
    ).select("f").distinct().count()
    n_all = corpus.withColumn(
        "f", F.input_file_name()
    ).select("f").distinct().count()
    assert n_sel < n_all, "probed scan read every file"
    # and the rows are exactly the full-scan filter's
    want = emb.filter(F.col("bucket").isin([int(b) for b in probes])).count()
    assert probed.count() == want


def test_scd2_windows_share_one_exchange(spark):
    """Both SCD2 windows (lag change-detect, lead interval-close) must ride
    ONE shuffle on the entity key — a second exchange would re-shuffle the
    change stream at 100 TB for no semantic reason."""
    p = plan_of(spark, "q_scd2")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") >= 2


def test_merge_upsert_single_exchange(spark):
    """Snapshot compaction: rank + version-count share one shuffle. (No
    WindowGroupLimit assertion: the n_versions audit count has an unbounded
    frame, so each key's full history must be seen and group-limit pruning
    is semantically impossible here — dropping the audit column would
    re-enable it.)"""
    p = plan_of(spark, "q_merge_upsert")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") >= 1


def test_anomaly_zscore_is_one_window_pass(spark):
    """The outlier gate is one shuffle + one WindowExec computing all three
    statistics — no stats-table join, no second aggregation pass."""
    p = plan_of(spark, "q_anomaly_zscore")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 1
    assert "Join" not in p


def test_join_5way_broadcasts_dims(spark):
    """nation/region must stay broadcast joins; the deep join tree must
    never degrade to a cartesian product (asserted in the sweep) or plan
    a shuffle for a dimension table."""
    p = plan_of(spark, "q_join_5way")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_kmeans_assignment_is_map_only(spark):
    """k-means assignment must stay a map-only argmin over the centroid
    list: no per-vector argmin window (which would shuffle the whole
    corpus k-times-expanded), no join of any kind, and exactly ONE
    exchange — the k·DIM-cell update aggregation. The returned plan is
    the FINAL Lloyd round (earlier rounds trained before it, driver-side
    or as their own bounded-collect jobs), so it has zero joins."""
    p = plan_of(spark, "q_cluster_kmeans")
    assert "Window" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") == 1
    # assignment is _batch_round_stats' one map-side Arrow pass, which
    # emits per-partition partial sums below the exchange
    assert p.count("MapInPandas") == 1 and "MapInPandas stats(" in p


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    """CI proof of the 100 TB claim in q_join_inner's docstring: with both
    fact tables BUCKETED on the join key (same bucket count), the
    sort-merge join plans with ZERO shuffle exchanges — each task reads
    co-bucketed files directly. The same join over plain parquet plans
    two exchanges; both shapes are asserted so the demo can't silently
    regress into comparing like with like."""
    from osmpbf_spark.catalog import load

    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")

    def join_plan(a, b):
        j = a.join(b, a.o_orderkey == b.l_orderkey).groupBy("o_orderkey").count()
        return j._jdf.queryExecution().executedPlan().toString()

    # plain parquet baseline: the join must shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = join_plan(o, li)
        assert base.count("Exchange hashpartitioning") >= 2

        for name, df, key in (
            ("t_orders_bkt", o, "o_orderkey"),
            ("t_lineitem_bkt", li, "l_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(4, key)
                .sortBy(key)
                .option("path", str(tmp_path / name))
                .mode("overwrite")
                .saveAsTable(name)
            )
        ob = spark.table("t_orders_bkt")
        lb = spark.table("t_lineitem_bkt")
        p = join_plan(ob, lb)
        assert "SortMergeJoin" in p
        # co-located buckets: no exchange anywhere — the join AND the
        # post-join aggregation both reuse the bucket partitioning
        assert "Exchange hashpartitioning" not in p
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_bkt")


def test_pii_redact_is_map_only(spark):
    """PII redaction is a pure scan→project pipeline: any Exchange in this
    plan means a shuffle crept into what must stay an embarrassingly
    parallel scrub at 100 TB."""
    p = plan_of(spark, "q_pii_redact")
    assert "Exchange" not in p
    # `*(1)` = one whole-stage-codegen span covering the entire pipeline
    assert p.lstrip().startswith("*(1)")


def test_inverted_index_single_exchange_and_group_limit(spark):
    """The index build must ride ONE exchange (window and final agg share
    the token partitioning) and the posting cap must prune via
    WindowGroupLimit — losing either re-shuffles or collects unbounded
    posting lists at scale."""
    p = plan_of(spark, "q_inverted_index")
    assert "WindowGroupLimit" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_pagerank_rank_joins_are_broadcast(spark):
    """Each PageRank iteration must broadcast the rank vector to the edge
    list (contribution join) and the contribution sums to the node
    universe (rank rebuild) — 2 broadcast joins × PR_ITERS, and never a
    sort-merge join of the bounded edge list."""
    from osmpbf_spark.operators.graph import PR_ITERS

    p = plan_of(spark, "q_pagerank")
    assert p.count("BroadcastHashJoin") >= 2 * PR_ITERS
    assert "SortMergeJoin" not in p


def test_session_funnel_single_exchange(spark):
    """The three chained conditional-min windows and the final groupBy
    all share the user_id partitioning — exactly ONE exchange may appear,
    or the funnel re-shuffles per step at scale."""
    p = plan_of(spark, "q_session_funnel")
    assert p.count("Exchange hashpartitioning") == 1


def test_token_pmi_vocab_is_heap_topk(spark):
    """The co-occurrence vocabulary must come from TakeOrderedAndProject
    (per-partition heap + N-row driver merge), never a global row_number
    window that single-partitions the whole vocabulary."""
    p = plan_of(spark, "q_token_pmi")
    assert "TakeOrderedAndProject" in p


def test_resample_locf_two_exchanges_one_window(spark):
    """The gap-fill must stay one bounds aggregation + one fill window,
    both keyed on the entity — exactly two hash exchanges and a single
    WindowExec; an as-of-join formulation would add a per-gap probe join."""
    p = plan_of(spark, "q_resample_locf")
    assert p.count("Exchange hashpartitioning") == 2
    assert p.count("Window [") == 1


def test_triangle_count_shape(spark):
    """Triangle counting must read the checkpointed undirected edge list
    (built once, consumed by orientation AND the closing join), broadcast
    the node-sized degree table, and never degrade to a cartesian
    product."""
    p = plan_of(spark, "q_triangle_count")
    assert "Scan ExistingRDD" in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_bpe_round_topk_is_heap_and_window_reuses_partitioning(spark):
    """Each BPE round's winning pair must come from TakeOrderedAndProject
    (per-partition heap + 1-row merge) — a global sort of the pair-count
    table would single-task the vocabulary at scale. And the per-round
    window over a word-partitioned cached frame must NOT re-exchange the
    corpus: the only exchange in the round plan is the (a,b) pair-count
    aggregation's."""
    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.textstats import (
        _bpe_frame,
        _bpe_round_top,
        _bpe_words,
    )

    # the trainer's own builders — the frozen plan IS the production plan
    frame = _bpe_frame(_bpe_words(load(spark, SF_DIR, "documents")))
    try:
        frame.count()  # materialize the cache, as the trainer does
        p = (
            _bpe_round_top(frame)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in p
        # cached word-partitioning satisfies the window: one exchange
        # (the pair-count agg's hashpartitioning on a,b), not two.
        # InMemoryRelation prints its stored child plan (which has its
        # own exchanges) — count only above the cache read.
        live = p.split("InMemoryRelation")[0]
        assert live.count("Exchange") == 1, p
    finally:
        frame.unpersist()


def test_bpe_train_default_path_is_one_action(spark):
    """The r06 trainer contract: the default (vocab fits on the driver —
    the HuggingFace/SentencePiece shape) runs exactly ONE Spark action:
    the distributed corpus pass collecting the word-frequency table. The
    r05 shape (~5 barriers per round) showed up as 6.2x baseline."""
    from osmpbf_spark.catalog import REGISTRY

    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    REGISTRY["q_bpe_train"].fn(spark, SF_DIR)
    actions = store.executionsCount() - before
    # one SQL execution per driver action (AQE may split each into
    # several jobs, so count executions, not jobs)
    assert actions == 1, actions


def test_bpe_train_distributed_matches_local(spark):
    """The distributed escape hatch (vocab past BPE_DRIVER_VOCAB_MAX)
    must produce the exact trajectory of the driver-side trainer — rounds
    chosen, pair counts, and closed-form token totals — and spend one
    action per round plus nothing else."""
    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.textstats import (
        BPE_TRAIN_ROUNDS,
        _bpe_train_distributed,
        _bpe_train_local,
        _bpe_words,
    )

    words = _bpe_words(load(spark, SF_DIR, "documents"))
    vocab = [(r["word"], int(r["wcnt"])) for r in words.collect()]
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    dist = _bpe_train_distributed(words)
    actions = store.executionsCount() - before
    assert dist == _bpe_train_local(vocab)
    assert actions == BPE_TRAIN_ROUNDS, actions


def test_profile_distinct_counts_are_hash_aggregated(spark):
    """Every corpus-volume aggregation in the profile must be a
    HashAggregate over a single-column pruned scan: Spark's
    multi-countDistinct rewrite degrades the whole profile to
    SortAggregate-over-Expand (measured 3x slower), and a min(string)
    anywhere in a corpus-volume agg demotes that agg's 13 functions to
    SortAggregate (the r07 shape, 1.3s -> 0.55s when fixed). The only
    SortAggregates allowed are the per-branch FINAL stats aggs, whose
    input is the already-distinct frame."""
    p = plan_of(spark, "q_profile")
    assert "HashAggregate" in p
    assert "Expand" not in p
    # four branches, each: Scan(1 col) -> partial+final HashAggregate;
    # no Generate at all (no posexplode, no stack)
    assert "Generate" not in p
    # every scan is single-column (column pruning held per branch)
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", p):
        assert "," not in m.group(1), m.group(1)


def test_udtf_filter_is_below_the_python_boundary(spark):
    """Catalyst does not push predicates through a Python UDTF, so the
    doc_id selection must already sit in the UDTF's INPUT (pushed to the
    parquet scan) — a Filter above BatchEvalPythonUDTF means the UDTF
    tokenizes the whole corpus for a 10-row selection (the r05 shape,
    0.73s -> 0.35s at sf0.1 when fixed)."""
    p = plan_of(spark, "u_udtf")
    below = p.split("BatchEvalPythonUDTF")[1]
    assert "LessThan(doc_id,10)" in below.split("PushedFilters")[1][:120], p


def test_bfs_hop_single_exchange(spark):
    """Each BFS hop gets exactly ONE shuffle exchange (the post-anti-join
    distinct) and two broadcast exchanges (frontier, visited set): the
    r07 shape deduped the raw expansion before the anti-join, paying a
    second barrier per hop."""
    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.graph import _bfs_hop, _edges, BFS_SEED

    ev = load(spark, "/root/testdata/sf0.001", "events")
    dist = spark.createDataFrame([(BFS_SEED, 0)], "node long, dist long")
    p = _bfs_hop(_edges(ev), dist, 1)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    # formatted mode numbers nodes "(N) Exchange" / "(N) BroadcastExchange"
    shuffles = len(re.findall(r"\(\d+\) Exchange\b", p))
    bcasts = len(re.findall(r"\(\d+\) BroadcastExchange\b", p))
    # the edge-list DISTINCT exchange exists only in this unchained test
    # plan (the query checkpoints edges once before the loop), so allow
    # it: hop-owned shuffle exchanges = total minus the edge one
    assert shuffles <= 2, p
    assert bcasts == 2, p


def test_dedup_passage_narrow_decision_exchanges(spark):
    """The r09 span-dedup shape: exactly two shuffle exchanges, BOTH on
    the narrow decision path (passage for the first-occurrence
    aggregate, doc_id for the keep-list regroup) — the corpus text
    rejoins map-side from the original scan (broadcast at this scale, a
    single doc_id exchange at 100 TB). The first-occurrence rule must
    plan as a vectorized HashAggregate over the packed BIGINT — a
    min(struct) buffer or the r08 row_number window would demote to
    SortAggregate / Window. (The r08 version of this test counted
    'Exchange (' against a tree-format string — zero matches, vacuously
    green; the patterns below are verified to match toString output.)"""
    import re

    p = plan_of(spark, "q_dedup_passage")
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", p)
    assert sorted(keys) == ["doc_id", "passage"], p
    assert "SortAggregate" not in p, p
    assert "Window" not in p, p
    assert "min(((doc_id" in p, p  # packed-long min IS the dedup rule


def test_corpus_mix_is_map_only(spark):
    """The mixture pass is scan→filter→project→generate: any Exchange
    means the epoch repetition or the sampling predicate started
    shuffling what must stay a pure scan-side pass at 100 TB."""
    p = plan_of(spark, "q_corpus_mix")
    assert "Exchange" not in p
    assert "Generate explode" in p  # epochs via generator, not self-union


def test_dedup_incremental_copartitions_on_content_hash(spark):
    """Every stage keys on the content hash: the history DISTINCT, the
    batch window, and the anti-join must share that one key — a second
    hashpartitioning key appearing here means a stage stopped reusing
    the hash partitioning."""
    p = plan_of(spark, "q_dedup_incremental")
    import re

    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", p))
    assert keys == {"h"}, keys


def test_rollup_cascade_collapses_geometrically(spark):
    """Three aggregation levels, each with map-side partials (two
    HashAggregates per exchange); only partial stats cross levels — no
    re-scan of raw events above the minute level, so exactly one
    FileScan of events feeds the whole cascade."""
    p = plan_of(spark, "q_rollup_cascade")
    shuffles = p.count("Exchange hashpartitioning")
    assert shuffles == 3, f"expected 3 level exchanges, got {shuffles}"
    assert p.count("HashAggregate") == 6  # partial+final per level
    assert p.count("FileScan") == 1


def test_er_fuzzy_blocks_broadcast_and_limits(spark):
    """ER must candidate-generate through a hash join on the blocking
    keys (never a cartesian/nested-loop over A x B) and resolve via
    WindowGroupLimit — losing either degrades to all-pairs or unbounded
    per-key collection."""
    p = plan_of(spark, "q_er_fuzzy")
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p


def test_multimodal_resize_is_map_only(spark):
    """Synthesize -> decode -> resize is two chained Arrow Python stages
    with no shuffle — an Exchange here means the pixel pipeline stopped
    being embarrassingly parallel."""
    p = plan_of(spark, "q_multimodal_resize")
    assert "Exchange" not in p
    assert p.count("MapInPandas") == 2


def test_way_geom_join_and_window_keys(spark):
    """Way geometry: the node-resolution join (both sides keyed on
    nodeid) plus ONE way-keyed window — three exchanges, every key one
    of the two the docstring claims; a fourth exchange or a foreign key
    means the LEAD stopped riding the way partitioning or the join
    degraded."""
    import re

    p = plan_of(spark, "q_pbf_way_geom")
    assert "Window" in p
    assert "CartesianProduct" not in p
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", p)
    assert len(keys) <= 3, f"expected <=3 hash exchanges, got {keys}"
    assert set(keys) <= {"nodeid", "way_id"}, keys


def test_unpivot_is_expand_no_shuffle(spark):
    """Native unpivot compiles to an Expand node — per-partition row
    generation, no Exchange; a shuffle here means the reshape stopped
    being map-only."""
    p = plan_of(spark, "q_unpivot")
    assert "Expand" in p
    assert "Exchange" not in p


def test_lateral_topk_decorrelates_to_join(spark):
    """The correlated LATERAL must decorrelate into a hash join + group
    limit — BroadcastNestedLoopJoin here means the optimizer fell back
    to per-row correlated execution."""
    p = plan_of(spark, "q_lateral_topk")
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_way_area_shares_window_partitioning(spark):
    """q_pbf_way_area: same exchange budget as q_pbf_way_geom (nodeid
    join + one way-keyed window) and the per-way aggregation must REUSE
    the window's partitioning — a way_id exchange count above the
    window's own means the groupBy stopped riding it."""
    import re

    p = plan_of(spark, "q_pbf_way_area")
    assert "Window" in p
    assert "CartesianProduct" not in p
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", p)
    assert len(keys) <= 3, f"expected <=3 hash exchanges, got {keys}"
    assert set(keys) <= {"nodeid", "way_id"}, keys
    assert keys.count("way_id") <= 1, keys


def test_aqe_skew_join_split_engages(spark):
    """q_join_skew_salt's docstring names AQE's skew-join split as the
    automatic weapon for moderate skew (salting is the manual one for
    extreme skew). Prove the automatic path actually engages on this
    engine (r12 verdict Next #5): a sort-merge join with one key owning
    ~30% of the fact side, under proportionally lowered skew thresholds,
    must mark the hot partition in the adaptive executed plan —
    SortMergeJoin(skew=true) over an "AQEShuffleRead skewed", i.e.
    OptimizeSkewedJoin split the hot partition across tasks instead of
    letting one reducer own 30% of the shuffle.

    Two load-bearing details, both discovered empirically:
    - the FINAL adaptive plan is only on the execution that ran, so the
      probe must collect() the same DataFrame it inspects (a noop write
      spawns a separate QueryExecution whose plan stays isFinalPlan=false);
    - the consumer must NOT require the join's hash distribution: with a
      downstream groupBy on the join key, the agg reuses the join's
      partitioning and OptimizeSkewedJoin declines the split (splitting
      would break the required distribution and force an extra shuffle —
      spark.sql.adaptive.forceOptimizeSkewedJoin). A global agg (or
      write) downstream leaves the split legal. At 100 TB this is an
      operating note: a skewed join feeding a same-key aggregation needs
      the SALTED shape; AQE's split only rescues joins whose output is
      consumed distribution-free.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(1_000_000).select(
            F.when(F.col("id") % 10 < 3, 0)
            .otherwise(F.pmod(F.hash("id"), 997))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").agg(F.sum(F.col("v") + F.col("w")).alias("s"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:1200]
        assert "AQEShuffleRead skewed" in plan, plan[:1200]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_history_anti_join_no_exchange(spark):
    """The maintained bucketed history index must join exchange-free on
    its side: the index's bucketing (bucketBy on the content hash) IS
    the anti-join's required partitioning, so the only exchange in the
    whole ingest plan is the (small) batch's — and the batch pays that
    shuffle ONCE, shared by its in-batch dedup window and the join.
    This is the 100 TB incremental-ingest shape q_dedup_incremental's
    docstring promises (r13 verdict Next #4)."""
    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.dedup import (
        build_history_index,
        dedup_incremental_against_history,
    )

    d = load(spark, SF_DIR, "documents")
    tbl, path = "hist_idx_plan_test", "/tmp/osmpbf_hist_idx_plan_test"
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    build_history_index(
        spark, d.filter(F.col("doc_id") % 5 != 0), tbl, path, buckets=8
    )
    batch = d.filter(F.col("doc_id") % 5 == 0)
    # forbid broadcast so the plan proves the BUCKETED join shape (at
    # real scale the history index is never broadcastable anyway)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = dedup_incremental_against_history(spark, batch, tbl)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the history scan is bucket-aware ...
    assert "Bucketed: true" in plan, plan
    # ... and the ONLY exchange in the plan is the batch side's window/
    # join shuffle — one Exchange total; the bucketed side has none
    assert plan.count("Exchange") == 1, plan
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
    # semantics unchanged vs the self-contained registered query
    from osmpbf_spark.catalog import REGISTRY

    expect = sorted(
        tuple(r)
        for r in REGISTRY["q_dedup_incremental"].fn(spark, SF_DIR).collect()
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == expect and len(got) > 0


def test_bucketed_minhash_history_join_no_exchange(spark):
    """The maintained MinHash band-key index (near-dup ingest) must join
    exchange-free on its side, like the exact-hash index: the composite
    band key ``bk`` is the single bucket column AND the single join key,
    so the bucketed scan's partitioning satisfies the join directly and
    only the (small, freshly-signed) batch shuffles. Candidate parity vs
    the self-contained q_dedup_minhash_incr is asserted in
    test_dedup.test_minhash_history_index_matches_incremental."""
    import shutil

    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.dedup import (
        build_minhash_history_index,
        minhash_candidates_against_history,
    )

    d = load(spark, SF_DIR, "documents")
    tbl, path = "mh_idx_plan_test", "/tmp/osmpbf_mh_idx_plan_test"
    shutil.rmtree(path, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    build_minhash_history_index(
        spark, d.filter(F.col("doc_id") % 5 != 0), tbl, path, buckets=8
    )
    batch = d.filter(F.col("doc_id") % 5 == 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # pin the CANDIDATE join subtree (pre-distinct): one exchange
        # total — the batch's — and a bucketed history scan
        cand = minhash_candidates_against_history(spark, batch, tbl)
        # strip the trailing .distinct() exchange by rebuilding the join
        # stage the helper pins: its input is the join itself, so assert
        # on the full frame minus the distinct via the plan's join node
        plan = cand._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, plan
    # exchanges: ONE for the batch side of the join + ONE for the
    # .distinct() over (doc_a, doc_b) pairs; the history side has none
    assert plan.count("Exchange") == 2, plan
    assert cand.count() > 0
