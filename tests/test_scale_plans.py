"""Physical-plan assertions: the scale properties SURVEY.md §7 claims are
locked in as tests, so a regression that silently de-optimizes a plan
(pushdown lost, broadcast dropped, a cartesian product sneaking into a
dedup path) fails CI rather than only showing up at cluster scale."""

import contextlib
import io

from pyspark.sql import functions as F

from c4_5decisiontreebasedonmapreduce_spark import registry

QUERIES = registry.queries()


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark, sf_small):
    p = plan_of(QUERIES["q1_pricing_summary"](spark, sf_small))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in p
    # column pruning: the 11-column lineitem scan must read only 7
    sch = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert sch.count(":") - 1 == 7, sch
    assert "l_orderkey" not in sch


def test_dim_joins_broadcast(spark, sf_small):
    for name in ("join_broadcast", "q3_shipping_priority", "join_semi_anti"):
        p = plan_of(QUERIES[name](spark, sf_small))
        assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, name


def test_q5_all_dims_broadcast_one_fact_pass(spark, sf_small):
    """The 6-table Q5 join must hang every dimension off the fact side
    as broadcast hash joins — no SortMergeJoin, no fact-side shuffle
    except the final 25-group aggregation; the orderdate range reaches
    the orders scan as pushed filters."""
    p = plan_of(QUERIES["q5_local_supplier"](spark, sf_small))
    assert p.count("BroadcastHashJoin") >= 5, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" in p, p


def test_no_cartesian_in_scalable_dedup(spark, sf_small):
    """Candidate generation must be an equi-join on a derived key; a
    CartesianProduct in these plans means the 100 TB path regressed.
    (similarity_topk is the *declared* brute-force baseline and is
    exempt.)"""
    for name in (
        "dedup_minhash",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_incremental",
        "dedup_incremental_persisted",
        "dedup_cluster_incremental",
        "dedup_spans",
    ):
        p = plan_of(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    # dedup_embedding_ivf is the embedding scale path: the only non-equi
    # join allowed is the corpus × broadcast-CODEBOOK assignment (N×C,
    # C tiny) — never an N×N CartesianProduct. (The plain dedup_embedding
    # entry is the DECLARED exact all-pairs semantics twin, exempt like
    # similarity_topk.)
    for name in ("dedup_embedding_ivf", "similarity_ann_ivf"):
        p = plan_of(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in p, name


def test_sort_rank_has_no_global_window_funnel(spark, sf_small):
    """sort_numeric_values uses the two-phase bucketed rank: the relation
    must never flow through a single-partition exchange (the ≤65-row
    offsets frame is the only thing allowed to, and at this size AQE
    folds even that away). A regression back to the global
    `Window.orderBy(value)` reintroduces `Exchange SinglePartition`
    over the full relation."""
    p = plan_of(QUERIES["sort_numeric_values"](spark, sf_small))
    assert p.count("Exchange SinglePartition") <= 1, p
    assert "BroadcastHashJoin" in p  # offsets joined broadcast, not shuffled
    # the ranking window itself must be partitioned by the bucket key
    rn = next(l for l in p.splitlines() if "row_number() windowspec" in l)
    assert "windowspecdefinition(_bucket" in rn, rn


def test_contingency_has_partial_aggregation(spark, sf_small):
    """The combiner the reference never had: map-side partial hash
    aggregation before the exchange."""
    p = plan_of(QUERIES["groupby_contingency"](spark, sf_small))
    assert p.count("HashAggregate") >= 2, p


def test_scan_training_prunes_columns(spark, sf_small):
    p = plan_of(QUERIES["scan_training"](spark, sf_small))
    sch = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in sch and "l_shipdate" not in sch


# max parquet-scan nodes allowed in each query's AQE FINAL plan: one per
# source table / deliberate branch. A count above budget means a shared
# relation stopped being materialized (or exchange-reused) and the
# engine is re-reading the source — locally invisible (page cache), at
# 100 TB a repeated cold scan. Budgets reflect the audited shapes:
# multi-table joins get one scan per table; asof/event_windows/gain_ratio
# deliberately read two branches; checkpointed pipelines read zero.
_SCAN_BUDGET = {
    "scan_training": 1,
    "groupby_contingency_numeric": 1,
    "q1_pricing_summary": 1,
    "q3_shipping_priority": 3,  # customer + orders + lineitem
    "window_funcs": 1,
    "sessionize": 1,
    "tokenize": 1,
    "dedup_exact": 1,
    "tfidf": 2,  # tf (checkpoint-fed) + column-less COUNT(*) scan for N
    "gain_ratio": 2,  # narrow-scan design: node_info + melt
    "dedup_minhash": 0,  # whole pipeline feeds off the shingle checkpoint
    "pipeline_curation": 1,  # fused curation run: ONE scan of documents
    # token/bigram counts + per-doc stats all read the ONE materialized
    # token-array relation; the parquet scan happens once at checkpoint
    # creation, so the query's own final plan re-reads no parquet at all
    "quality_signals": 0,
    "sample_stratified": 1,  # scan → broadcast rate dim → pushable filter
    "sample_mixture": 2,  # doc side + the per-source totals pass
    "sample_temperature": 2,  # doc side + the per-source totals pass
    "repetition_signals": 1,  # one projection pass, nothing else
    # token arrays + per-(doc,bigram) counts both checkpointed; the
    # final plan reads only the two materialized relations
    "lm_perplexity": 0,
    "shuffle_deterministic": 1,  # scan → shard exchange → per-shard sort
    "q4_order_priority": 2,  # orders + the returned-lines projection
    "q10_returned_items": 4,  # one scan per joined table
    "pipeline_mixture_pack": 2,  # sample_mixture's own audited budget
    "q5_local_supplier": 6,  # one scan per joined table
    "multimodal_frames": 0,  # both consumers read the decode checkpoint
    "c45_predict": 1,  # trie CASE WHEN evaluates in the scan's one pass
    "dedup_incremental": 0,  # feeds off the shingle checkpoint end-to-end
    # the ONE allowed scan is the persisted bucketed signature table —
    # the artifact the op exists to read; the documents source itself is
    # only touched through the batch-side shingle checkpoint
    "dedup_incremental_persisted": 1,
    "dedup_cluster_incremental": 0,  # both pair passes share the checkpoint
    "sample_coverage": 1,  # same single-scan shape as sample_stratified
    "q18_large_volume": 3,  # lineitem + orders + customer, one scan each
    "profile_columns": 1,  # every per-column stat rides one aggregation pass
    # the one scan is the corpus fingerprint side (persisted state at
    # scale); the batch slice is checkpointed once for its two branches
    "dedup_exact_incremental": 1,
    "scrub_repetition": 1,  # one projection pass, nothing else
    # codebook filter + assignment crossJoin both read the one
    # materialized normed relation
    "sample_cluster_balanced": 0,
}


def test_final_plan_scan_budget(spark, sf_small):
    for name, budget in _SCAN_BUDGET.items():
        df = QUERIES[name](spark, sf_small)
        df.collect()  # AQE: the final plan is the honest one
        n = plan_of(df).count(") Scan parquet")
        assert n <= budget, (name, n, budget)


def test_jaccard_verify_reuses_docset_exchange(spark, sf_small):
    """Several subplans feed two consumers each (the rare-shingle
    relation feeds both sides of the pair self-join; the pair-count
    aggregation feeds both the result and the capped-shingle residual
    branch; the sizes aggregation feeds both sides of the final join).
    The static plan carries each twice, but at runtime AQE must dedup
    the identical exchanges (ReusedExchange) — at cluster scale each
    duplicate would be a full second shuffle of corpus-sized data."""
    df = QUERIES["dedup_ngram_jaccard"](spark, sf_small)
    df.collect()
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    assert p.count(") ReusedExchange") >= 1, p


def test_ivf_bucketed_probe_join_no_shuffle(spark, sf_small, tmp_path):
    """The persisted IVF layout (VERDICT r5 item 4): the assignment-
    joined corpus written bucketed by centroid_id must join against a
    probe relation with NO Exchange on the corpus side (the bucketed
    scan already satisfies the join's distribution), and an IN-filter of
    probed centroids must prune whole buckets at scan time."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        similarity as SIM,
    )

    table = "ivf_corpus_plan_test"
    corpus = SIM.write_ivf_bucketed(
        spark, sf_small, table=table, n_buckets=8,
        path=str(tmp_path / "ivf"),
    )
    probes = spark.range(4).select(
        (F.col("id") * 50).alias("centroid_id"),
        F.col("id").alias("query_id"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force SMJ: a broadcast join would trivially have no shuffle and
    # prove nothing about the bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(corpus.join(probes, "centroid_id"))
        assert "SortMergeJoin" in p, p
        assert "Bucketed: true" in p, p
        # exactly one Exchange node (formatted explain prints each node
        # as "(n) Exchange") — the probe side; the bucketed corpus side
        # reads pre-partitioned on the join key
        assert p.count(") Exchange") == 1, p
        scan = p[p.index("Scan parquet") :]
        assert "SelectedBucketsCount: 8 out of 8" in scan

        # bucket pruning: restricting the corpus to the probed centroids
        # skips non-matching bucket files entirely at scan time
        pruned = corpus.where(F.col("centroid_id").isin(0, 50)).join(
            probes, "centroid_id"
        )
        p2 = plan_of(pruned)
        assert "SelectedBucketsCount: 2 out of 8" in p2, p2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_persisted_corpus_join_no_shuffle(
    spark, sf_small, tmp_path
):
    """VERDICT r6 item 1: the persisted incremental-dedup corpus
    signature table (bucketed by the band-join key) must join against a
    batch-signature relation with NO Exchange on the corpus side — at
    100 TB the corpus is the overwhelming side of the continuous-ingest
    join, and re-shuffling it per batch would erase the amortization the
    persisted table exists for. Mirrors
    test_ivf_bucketed_probe_join_no_shuffle."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import dedup as D
    from c4_5decisiontreebasedonmapreduce_spark.functions.hashing import (
        md5_long,
    )

    table = "incr_corpus_plan_test"
    corpus = D.write_incremental_corpus(
        spark, sf_small, table=table, n_buckets=8,
        path=str(tmp_path / "incr_corpus"),
    )
    # the engine's minhash relations now key on the full 60-bit md5
    # (``hb``) and carry ``sz`` instead of the shingle string — build
    # the batch side exactly as dedup_incremental does
    sh = D._shingles_str_df(spark, sf_small).select(
        "doc_id", "sz", md5_long(F.col("shingle")).alias("hb")
    ).withColumn("h", F.col("hb") % D.MINHASH_P)
    is_batch = (F.col("doc_id") % D.INCR_BATCH_MOD) == D.INCR_BATCH_REM
    # localCheckpoint so the batch subplan's own aggregation exchange is
    # materialized away and the asserted count isolates the JOIN's
    # exchanges, exactly as dedup_incremental's checkpointed `sh` does
    batch = D._banded_signatures(sh.where(is_batch)).localCheckpoint()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force SMJ: a broadcast join would trivially have no shuffle and
    # prove nothing about the bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = batch.select(
            F.col("doc_id").alias("doc_new"), "band", "sig"
        ).join(
            corpus.select(F.col("doc_id").alias("dup_of"), "band", "sig"),
            ["band", "sig"],
        )
        p = plan_of(joined)
        assert "SortMergeJoin" in p, p
        assert "Bucketed: true" in p, p
        # exactly one Exchange — the batch side; the bucketed corpus
        # side reads pre-partitioned on (band, sig)
        assert p.count(") Exchange") == 1, p
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_exact_persisted_corpus_join_no_shuffle(spark, sf_small, tmp_path):
    """VERDICT r7 item 1: the persisted exact-dedup corpus fingerprint
    table (bucketed by the lookup-join key) must join against the batch
    fingerprint relation with NO Exchange on the corpus side — the
    exact-hash twin of test_incremental_persisted_corpus_join_no_shuffle,
    closing the last docstring-only persisted-state claim."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import dedup as D

    table = "exact_corpus_plan_test"
    corpus = D.write_exact_corpus(
        spark, sf_small, table=table, n_buckets=8,
        path=str(tmp_path / "exact_corpus"),
    )
    is_batch = (F.col("doc_id") % D.INCR_BATCH_MOD) == D.INCR_BATCH_REM
    # localCheckpoint isolates the JOIN's exchanges from the batch
    # subplan's own, exactly as dedup_exact_incremental's `batch` does
    batch = (
        D._exact_fingerprints(spark, sf_small)
        .where(is_batch)
        .localCheckpoint()
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force SMJ: a broadcast join would trivially have no shuffle and
    # prove nothing about the bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = batch.join(corpus, "fingerprint", "left")
        p = plan_of(joined)
        assert "SortMergeJoin" in p, p
        assert "Bucketed: true" in p, p
        # exactly one Exchange — the batch side; the bucketed corpus
        # side reads pre-partitioned on fingerprint
        assert p.count(") Exchange") == 1, p
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_diff_snapshots_persisted_zero_exchange(spark, sf_small, tmp_path):
    """r10 VERDICT next-round #5: both snapshot tables are bucketed AND
    sorted by doc_id, so the full-outer audit join reads both sides
    pre-partitioned — ZERO Exchange anywhere in the plan — and column
    pruning keeps the text bytes written alongside out of the scan
    (ReadSchema = doc_id + md5 only). At 100 TB the audit's cost is two
    narrow column scans, nothing moves."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        relational as R,
    )
    from c4_5decisiontreebasedonmapreduce_spark.operators.text import docs

    t1, t2 = "snap_plan_v1", "snap_plan_v2"
    try:
        R.write_snapshot(
            spark, docs(spark, sf_small).select("doc_id", "text"),
            table=t1, path=str(tmp_path / "v1"),
        )
        R.write_snapshot(
            spark,
            R._snapshot_v2(spark, sf_small).select("doc_id", "text"),
            table=t2, path=str(tmp_path / "v2"),
        )
        df = R.diff_snapshots_persisted(spark, t1, t2)
        p = plan_of(df)
        assert "SortMergeJoin" in p, p
        assert "Bucketed: true" in p, p
        assert p.count(") Exchange") == 0, p
        for line in p.splitlines():
            if "ReadSchema" in line:
                assert "text" not in line, line
        assert df.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_sample_stratified_broadcasts_rates(spark, sf_small):
    """The per-stratum rate table must broadcast: the corpus side of the
    sampler is never exchanged (the keep predicate is a scalar function
    of the row, so the whole op is scan → broadcast join → filter)."""
    p = plan_of(QUERIES["sample_stratified"](spark, sf_small))
    assert "BroadcastHashJoin" in p, p
    assert p.count(") Exchange") == 0, p


def test_sample_mixture_corpus_never_shuffled(spark, sf_small):
    """The epoch fan-out must stay NEXT TO THE SCAN: the corpus side is
    scan → project → broadcast join → explode with zero exchanges of
    document rows; the only Exchange in the plan is the per-source
    totals aggregate, and it must sit ABOVE a partial_sum (map-side
    combine), so it carries sources×partitions partial rows, never the
    corpus."""
    p = plan_of(QUERIES["sample_mixture"](spark, sf_small))
    assert p.count("BroadcastHashJoin") >= 2, p  # rates dim + totals
    assert p.count(") Exchange") == 1, p  # the totals partial-agg only
    # detail order: the partial_sum HashAggregate is the Exchange's child
    assert "partial_sum" in p[: p.index(") Exchange")], p


def test_sample_temperature_corpus_never_shuffled(spark, sf_small):
    """Same contract for the data-derived-share variant: both exchanges
    (the per-source totals partial agg and the single-partition window
    that normalizes the 20-row aggregate into shares) live under the
    BroadcastExchange of the rates dim — the corpus side is scan →
    broadcast join → explode, zero exchanges of document rows."""
    p = plan_of(QUERIES["sample_temperature"](spark, sf_small))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert p.count(") Exchange") == 2, p  # totals agg + tiny window
    assert "partial_sum" in p[: p.index(") Exchange")], p
    # both exchanges are descendants of the rates-dim BroadcastExchange
    # (details are numbered bottom-up, children before ancestors), so
    # they feed the broadcast side, never the streamed corpus
    assert p.rindex(") Exchange") < p.index(") BroadcastExchange"), p


def test_repetition_signals_is_one_projection(spark, sf_small):
    """Line/paragraph repetition scoring must be a single codegen'd
    projection over the scan: a document's segments all live inside its
    own row, so there is NO exchange, NO join, and NO explode anywhere —
    the cheapest possible 100 TB quality pass (contrast quality_signals,
    whose corpus-relative top-fractions genuinely need grouped counts)."""
    p = plan_of(QUERIES["repetition_signals"](spark, sf_small))
    for op in ("Exchange", "Join", "Generate", "HashAggregate", "Sort"):
        assert op not in p, (op, p)
    # the staged projections must NOT re-inline the expensive array
    # builds per signal: exactly one line-split and one para-split
    assert p.count("split(text") == 2, p


def test_lm_perplexity_no_window_no_cartesian(spark, sf_small):
    """The bigram build must come straight off the token arrays
    (explode(sequence) + element_at), NEVER a per-doc lead() window —
    a window would shuffle the whole exploded corpus by doc_id before
    a single count happens. The top-V vocabulary must be a
    TakeOrderedAndProject (streaming top-K), not a global Sort, and
    the only Cross join is the broadcast single-row V scalar."""
    df = QUERIES["lm_perplexity"](spark, sf_small)
    df.count()  # executed (AQE-final) plan
    p = plan_of(df)
    assert "Window" not in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p, p
    assert ") Sort" not in p, p  # no standalone global-sort node


def test_shuffle_deterministic_no_global_sort(spark, sf_small):
    """The training-order shuffle must be ONE exchange on the shard key
    plus per-shard sorts — a Window partitioned by shard, never an
    empty-partition window or a global Sort (either would funnel the
    corpus through one task)."""
    p = plan_of(QUERIES["shuffle_deterministic"](spark, sf_small))
    assert p.count(") Exchange") == 1, p
    assert "hashpartitioning(shard" in p, p
    # the window itself must be PARTITIONED by shard — an empty
    # partition spec (windowspecdefinition(order_h... with no shard)
    # would funnel the whole corpus through one task
    assert "windowspecdefinition(shard" in p, p
    # the sort is the window's per-partition sort, keyed by shard first
    sort_line = next(l for l in p.splitlines() if "Arguments: [shard" in l)
    assert "ASC NULLS FIRST" in sort_line, sort_line


def test_lm_persisted_table_join_no_shuffle(spark, sf_small, tmp_path):
    """The persisted bigram-LM table (bucketed by the scoring join's
    (w1, w2) key) must join the batch's per-(doc, bigram) counts with NO
    Exchange on the LM side — model state is the big static side of
    every ingest-scoring join, and re-shuffling it per batch would erase
    the write-once amortization. Mirrors
    test_incremental_persisted_corpus_join_no_shuffle."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import text as TX

    table = "lm_plan_test"
    bc = TX.write_lm_table(
        spark, sf_small, table=table, n_buckets=8,
        path=str(tmp_path / "lm_bigrams"),
    )
    vocab = spark.table(f"{table}_vocab")
    batch = TX.docs(spark, sf_small).where(
        (F.col("doc_id") % TX.LM_BATCH_MOD) == TX.LM_BATCH_REM
    ).select("doc_id", TX.tokens_col(F.col("text")).alias("toks"))
    dbg = (
        TX._lm_unk_mapped(TX._lm_bigram_rows(batch), vocab)
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = dbg.join(bc, ["w1", "w2"], "left")
        p = plan_of(joined)
        assert "SortMergeJoin" in p, p
        assert "Bucketed: true" in p, p
        assert p.count(") Exchange") == 1, p  # the batch side only
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in (table, f"{table}_prefix", f"{table}_vocab"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_q4_semi_join_with_pushed_range(spark, sf_small):
    """Q4's EXISTS must execute as a LEFT SEMI join (orders rows never
    duplicate against multi-line orders) with the quarter's date range
    pushed into the orders scan."""
    p = plan_of(QUERIES["q4_order_priority"](spark, sf_small))
    assert "LeftSemi" in p, p
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" in p, p


def test_q10_dims_broadcast_one_fact_pass(spark, sf_small):
    """Q10: customer and nation broadcast off the single
    lineitem ⋈ orders pass; the returnflag filter reaches the lineitem
    scan; top-20 via TakeOrderedAndProject, never a global sort."""
    p = plan_of(QUERIES["q10_returned_items"](spark, sf_small))
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "TakeOrderedAndProject" in p, p
    assert "EqualTo(l_returnflag,R)" in p, p


def test_bucketed_fact_join_no_shuffle(spark, sf_small, tmp_path):
    """Fact-to-fact co-location (sources/layout.py): orders and lineitem
    written bucketed by orderkey into the same bucket count must join
    with ZERO Exchange nodes — at 100 TB this is the one join where
    neither side broadcasts, so without the bucketed layout every query
    re-shuffles both full fact tables. Also pins the one-file-per-bucket
    write guard (repartition by the bucket key pre-write)."""
    import glob

    from c4_5decisiontreebasedonmapreduce_spark.sources import layout

    orders, lineitem = layout.write_facts_bucketed(
        spark, sf_small, path_prefix=str(tmp_path / "bkt"), n_buckets=8,
        orders_table="orders_bkt_test", lineitem_table="lineitem_bkt_test",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).select("l_orderkey", "o_orderdate", "l_extendedprice")
        p = plan_of(joined)
        assert "SortMergeJoin" in p, p
        assert p.count(") Exchange") == 0, p
        assert p.count("Bucketed: true") == 2, p
        # one file per bucket per table: murmur3-mod repartition pre-write
        # aligns task partitions with bucket ids
        for t in ("orders_bkt_test", "lineitem_bkt_test"):
            files = glob.glob(str(tmp_path / "bkt" / t / "*.parquet"))
            assert len(files) == 8, (t, len(files))
        # results equal the unbucketed join
        expect = (
            spark.read.parquet(f"{sf_small}/lineitem.parquet")
            .join(
                spark.read.parquet(f"{sf_small}/orders.parquet"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bkt_test")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt_test")


def test_partitioned_scan_prunes(spark, sf_small, tmp_path):
    """The 100 TB layout contract (sources/layout.py): events written
    hive-partitioned by day must (a) produce one data file per day (the
    repartition-before-partitionBy small-files guard), (b) answer a
    day-scoped query from THAT DAY'S files only — the partition filter
    resolves at file listing, never reaching the parquet readers — and
    (c) keep each day's file clustered by the sort key so row-group
    min/max stats can skip pages within the day."""
    import glob
    import os

    from c4_5decisiontreebasedonmapreduce_spark.sources import layout

    path = str(tmp_path / "events_by_day")
    layout.write_events_partitioned(spark, sf_small, path)

    day_dirs = sorted(glob.glob(os.path.join(path, "event_date=*")))
    assert len(day_dirs) > 1  # the fixture spans multiple days
    for d in day_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, (d, files)  # one file per day

    day = os.path.basename(day_dirs[1]).split("=", 1)[1]
    scan = layout.scan_events_day(spark, path, day)

    # (b) every file ACTUALLY READ comes from the selected day's
    # directory (inputFiles() reports the pre-pruning file index, so the
    # runtime-true evidence is input_file_name() on the executed scan)
    assert scan.count() > 0
    in_files = [
        r[0]
        for r in scan.select(F.input_file_name()).distinct().collect()
    ]
    assert in_files and all(f"event_date={day}" in f for f in in_files)
    p = plan_of(scan)
    pf = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "event_date" in pf, pf
    # the day predicate is fully consumed by partition pruning — it must
    # NOT appear as a pushed data filter (with no other predicates the
    # scan prints no PushedFilters line at all)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert all("event_date" not in l for l in pushed), pushed

    # values identical to filtering the unpartitioned source
    from c4_5decisiontreebasedonmapreduce_spark.sources.parquet import (
        load_table,
    )

    expect = (
        load_table(spark, sf_small, "events")
        .where(F.to_date("ts") == F.lit(day))
        .count()
    )
    assert scan.count() == expect

    # (c) rows within the day's single file arrive clustered by user_id
    one = spark.read.parquet(in_files[0]).select("user_id").collect()
    vals = [r["user_id"] for r in one]
    assert vals == sorted(vals)


def test_salted_join_bounds_skewed_partitions(spark):
    """The graded join_salted entry runs on uniform orders data, so the
    salting was never exercised against real skew (VERDICT r5 item 5).
    Build a fact table where ONE hot key owns 10% of all rows and check,
    by simulating the exchange's partition assignment exactly
    (HashPartitioning = pmod(murmur3(keys), n) — what `F.hash` computes),
    that (a) unsalted, the hot key concentrates its full 10% on a single
    task, and (b) salted on (key, salt), every task's input stays near
    the uniform share — plus that the salted join returns exactly the
    unsalted join's rows."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        relational as R,
    )

    n, hot, n_part = 100_000, 10_000, 32
    fact = spark.range(n).select(
        "id",
        F.when(F.col("id") < hot, F.lit(7))
        .otherwise(F.pmod(F.col("id"), F.lit(1000)) + 100)
        .cast("long")
        .alias("k"),
    )
    dim = spark.range(1200).select(
        F.col("id").alias("dk"), (F.col("id") * 2).alias("v")
    )

    # (a) unsalted exchange: the hot key's rows all hash to ONE partition
    unsalted_max = (
        fact.groupBy(F.pmod(F.hash("k"), F.lit(n_part)).alias("p"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert unsalted_max >= hot  # >= 10% of all input on a single task

    salt_src = F.pmod(F.col("id"), F.lit(R.N_SALTS))
    # (b) salted exchange: hot rows split into N_SALTS equal groups...
    per_salt = (
        fact.where(F.col("k") == 7)
        .groupBy(salt_src.alias("salt"))
        .count()
        .collect()
    )
    assert len(per_salt) == R.N_SALTS
    assert max(r["count"] for r in per_salt) <= -(-hot // R.N_SALTS)
    # ...and no task's input exceeds 2x the uniform share
    salted_max = (
        fact.withColumn("salt", salt_src.cast("int"))
        .groupBy(F.pmod(F.hash("k", "salt"), F.lit(n_part)).alias("p"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert salted_max <= 2 * n / n_part, (salted_max, unsalted_max)

    # row-identical to the unsalted join
    joined = R.salted_join(fact, dim, "k", "dk", salt_src)
    assert joined.count() == fact.join(dim, fact["k"] == dim["dk"]).count()


def test_compact_files_preserves_rows_and_bounds(spark, sf_small, tmp_path):
    """Small-file compaction (r7): 64 tiny files rewritten to the
    byte-target count with row-for-row identical content — the
    streaming-sink/per-batch-ingest cleanup every long-lived 100 TB
    table needs."""
    import os

    from c4_5decisiontreebasedonmapreduce_spark.sources.layout import (
        compact_files,
    )

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    frag = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(frag)
    n_src = sum(
        1 for f in os.listdir(frag) if f.endswith(".parquet")
    )
    assert n_src == 64
    total = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    target = total // 4  # expect ~4-5 output files
    out = str(tmp_path / "compacted")
    n_out = compact_files(spark, frag, out, target_file_bytes=target)
    assert n_out == -(-total // target) < n_src
    a = sorted(map(str, spark.read.parquet(frag).collect()))
    b = sorted(map(str, spark.read.parquet(out).collect()))
    assert a == b


def test_r7_tail_queries_plan_shapes(spark, sf_small):
    """The round-7/8 tail additions keep their documented PLANS.md
    shapes: single-scan single-exchange aggregates/windows, no
    cartesian anywhere, and decontaminate stays equi-join candidate
    generation (never corpus × benchmark nested-loop)."""
    for name in (
        "window_range_frame",
        "agg_percentiles",
        "sample_coverage",
        "decontaminate",
    ):
        p = plan_of(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    # the RANGE-frame window and the exact-percentile aggregate are
    # one-shuffle plans: one exchange on the partition/group key, never
    # a global single-partition sort
    for name in ("window_range_frame", "agg_percentiles"):
        p = plan_of(QUERIES[name](spark, sf_small))
        assert "Exchange SinglePartition" not in p, name


def test_benchmark_shingles_join_no_shuffle(spark, sf_small, tmp_path):
    """The persisted benchmark shingle table (bucketed by the candidate
    join key) must join the incoming corpus shingles with NO Exchange on
    the benchmark side — decontamination's static side is shingled once
    and read pre-partitioned forever after, the same continuous-ingest
    contract as the persisted dedup corpus tables."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import dedup as D

    table = "bench_shingles_plan_test"
    bench = D.write_benchmark_shingles(
        spark, sf_small, table=table, n_buckets=8,
        path=str(tmp_path / "bench_sh"),
    )
    is_bench = (
        F.col("doc_id") % D.DECONTAM_BENCH_MOD == D.DECONTAM_BENCH_REM
    )
    # localCheckpoint isolates the JOIN's exchanges from the corpus
    # subplan's own, exactly as decontaminate's `corp` does
    corp = (
        D._shingles_df(spark, sf_small).where(~is_bench).localCheckpoint()
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force SMJ: a broadcast join would trivially have no shuffle and
    # prove nothing about the bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = corp.join(bench, "shingle")
        p = plan_of(joined)
        assert "SortMergeJoin" in p, p
        assert "Bucketed: true" in p, p
        # exactly one Exchange — the corpus side; the bucketed benchmark
        # side reads pre-partitioned on shingle
        assert p.count(") Exchange") == 1, p
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_span_persisted_corpus_join_no_shuffle(spark, sf_small, tmp_path):
    """The persisted span-gram corpus table (bucketed by the gram-hash
    join key) must join against a batch gram relation with NO Exchange
    on the corpus side — and the broadcast hot-gram anti-join that
    enforces the boilerplate cap must not disturb that distribution.
    The span sibling of test_exact_persisted_corpus_join_no_shuffle."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import dedup as D

    table = "span_corpus_plan_test"
    try:
        corpus = D.write_span_corpus(
            spark, sf_small, table=table, n_buckets=8,
            path=str(tmp_path / "span_corpus"),
        )
        is_batch = (F.col("doc_id") % D.INCR_BATCH_MOD) == D.INCR_BATCH_REM
        from c4_5decisiontreebasedonmapreduce_spark.operators import text as TX

        batch = D._positioned_grams(
            TX.docs(spark, sf_small).where(is_batch)
        ).localCheckpoint()
        batch_df = batch.groupBy("gh").agg(
            F.count_distinct("doc_id").alias("bdf")
        )
        hot = (
            spark.table(f"{table}_df")
            .join(batch_df, "gh", "full")
            .where(
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("bdf"), F.lit(0))
                > D.SPAN_GRAM_DF_CAP
            )
            .select("gh")
            .localCheckpoint()  # isolate the candidate JOIN's exchanges
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        # force SMJ for the candidate join: a broadcast join would
        # trivially have no shuffle and prove nothing about the layout;
        # the hot-set exclusion is explicitly broadcast (tiny by
        # definition), so it stays a BHJ under the same setting
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            c = corpus.join(F.broadcast(hot), "gh", "left_anti")
            b = batch.join(F.broadcast(hot), "gh", "left_anti")
            joined = b.select(
                F.col("doc_id").alias("doc_x"),
                F.col("pos").alias("pos_x"),
                "gh",
            ).join(
                c.select(
                    F.col("doc_id").alias("doc_y"),
                    F.col("pos").alias("pos_y"),
                    "gh",
                ),
                "gh",
            )
            p = plan_of(joined)
            assert "SortMergeJoin" in p, p
            assert "Bucketed: true" in p, p
            # exactly one Exchange — the batch side; the bucketed corpus
            # side reads pre-partitioned on gh through the anti-join
            assert p.count(") Exchange") == 1, p
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_df")


def test_scrub_pii_is_single_projection(spark, sf_small):
    """The PII scrub must stay one JVM-side projection over the scan: no
    Python eval, no join, and the only Exchange is the documented
    RoundRobin spread of the tiny test table (absent on a real
    many-split corpus)."""
    p = plan_of(QUERIES["scrub_pii"](spark, sf_small))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("(3) Exchange") + p.count("Exchange (") <= 2  # header+node
    assert "RoundRobinPartitioning" in p  # the spread, nothing else
    assert "hashpartitioning" not in p


def test_pack_sequences_no_global_funnel(spark, sf_small):
    """Sequence packing must never serialize into a global ordering: the
    prefix-sum window partitions by shard (hashpartitioning, n_shards
    independent tasks, no SinglePartition exchange), and the final
    (shard, chunk) aggregation reuses that partitioning — zero
    post-window shuffles."""
    p = plan_of(QUERIES["pack_sequences"](spark, sf_small))
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert p.count("hashpartitioning(shard") == 1  # window shuffle only
    # window → generate → aggregate with no exchange in between
    tree = p[: p.index("(1) Scan")]
    assert tree.index("Window") > tree.index("HashAggregate")  # agg above window, nothing between
    between = tree[tree.index("HashAggregate") : tree.index("Window")]
    assert "Exchange" not in between


def test_pack_sequences_bpe_no_global_funnel(spark, sf_small):
    """The BPE-token pack must keep pack_sequences' exact scale shape:
    the replace-chain symbol count is a scan-side projection (no
    Python, no explode-join), and the per-shard prefix sum stays the
    only data-sized exchange — no SinglePartition, no join at all."""
    p = plan_of(QUERIES["pack_sequences_bpe"](spark, sf_small))
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p and "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # exactly ONE explode — the chunk-id sequence; a token explode (the
    # vocab-join encode shape this op deliberately avoids) would add one
    assert p.count("explode(") == 1
    assert p.count("hashpartitioning(shard") == 1  # window shuffle only


def test_chunk_documents_bpe_zero_exchange(spark, sf_small):
    """BPE chunking must stay the shuffle-free projection chunking is:
    one scan, one Generate (the window-start explode), no data-keyed
    Exchange, no join, no Python stage. The r12 spread-if-narrow
    RoundRobin repartition of the raw docs scan is allowed (same
    tiny-table-spread carve-out as the pipeline pins): it carries only
    the source bytes, vanishes on already-wide scans (the guard is a
    partition-count check), and the chunk build above it must still
    never shuffle — no hash/range partitioning anywhere."""
    p = plan_of(QUERIES["chunk_documents_bpe"](spark, sf_small))
    assert "hashpartitioning(" not in p
    assert "rangepartitioning(" not in p
    assert "SinglePartition" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the carve-out admits exactly ONE Exchange — the guarded RoundRobin
    # spread of the raw docs scan. A regression that round-robins the
    # EXPLODED chunk rows (data-scale, above the Generate) would add a
    # second one; pin the count so the docstring's "the chunk build
    # itself never shuffles" is enforced, not just asserted in prose.
    # (formatted plans name each exchange twice: tree + detail line.)
    assert p.count("Exchange") <= 2, p


def test_pretraining_pipeline_two_data_exchanges(spark, sf_small):
    """The fused scrub→dedup→gate→pack pipeline must hold its composed
    shape: ONE parquet scan, and beyond the tiny-table RoundRobin
    spread exactly two data-sized exchanges (fingerprint window, shard
    window) — the per-shard rollup reuses the shard partitioning."""
    p = plan_of(QUERIES["pipeline_pretraining"](spark, sf_small))
    assert p.count(") Scan parquet") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("hashpartitioning(") == 2, p


def test_pack_incremental_state_join_is_broadcast(spark, sf_small):
    """With the persisted (shard, base_tokens) state passed in, the
    ingest plan must join it BROADCAST (n_shards rows) and read the
    documents source once for the batch slice — the corpus is never
    re-scanned at ingest."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import packing as PK

    state = spark.createDataFrame(
        [(i, 1000 * (i + 1)) for i in range(PK.N_SHARDS)],
        "shard int, base_tokens long",
    )
    df = PK.pack_incremental(spark, sf_small, shard_state=state)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert p.count(") Scan parquet") == 1, p
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_packed_slices_no_join_single_exchange(spark, sf_small):
    """The shard writer's relation must cut slices from the token
    arrays riding the ONE per-shard window exchange — no re-tokenize
    join, no second corpus-sized shuffle, no Python."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import packing as PK
    from c4_5decisiontreebasedonmapreduce_spark.operators.text import docs

    p = plan_of(PK.packed_slices(docs(spark, sf_small)))
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count(") Scan parquet") == 1
    assert p.count("hashpartitioning(") == 1  # the shard window only
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_train_prologue_is_one_scan(spark, sf_small):
    """train()'s pre-level-0 work (null audit + quantile candidates) is
    ONE multi-aggregate action over the training projection
    (operators/tree.py:_prologue_scan). The previous design paid three
    full corpus passes here — at 100 TB, two entire extra reads per
    training run. AQE executes the single two-stage aggregate as ≤ 2
    jobs (scan stage + final stage over the histogram shuffle). Here
    it reads the raw projection; inside train() it reads the spread
    checkpoint instead (test_train_reads_its_source_once). Three
    separate actions would show ≥ 3 job-group jobs."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr

    schema = registry.LINEITEM_TRAINING_SCHEMA
    base = registry.lineitem_training(spark, sf_small).select(
        *[a.name for a in schema.features], schema.label
    )
    sc = spark.sparkContext
    sc.setJobGroup("prologue-probe", "one-scan pin")
    try:
        _, edges, _ = Tr._prologue_scan(
            base,
            nulls="reject",
            cat_names=[a.name for a in schema.categorical],
            num_names=[a.name for a in schema.numeric],
            label=schema.label,
            cat_domains={
                a.name: list(a.domain) for a in schema.categorical
            },
            max_bins=256,
        )
    finally:
        sc.setJobGroup("post-prologue", "")
    jobs = sc.statusTracker().getJobIdsForGroup("prologue-probe")
    assert len(jobs) <= 2, jobs
    # the edges it produced are real split candidates
    assert all(len(e) > 1 for e in edges.values()), {
        k: len(v) for k, v in edges.items()
    }


def test_train_reads_its_source_once(spark, sf_small, monkeypatch):
    """train() scans its file-backed source once, to spread and
    materialize it: the prologue's aggregate and refinement passes get
    that checkpoint (an ExistingRDD), not a second scan of the files."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr

    prologue, plans = Tr._prologue_scan, []

    def spy(base, **kw):
        plans.append(plan_of(base))
        return prologue(base, **kw)

    monkeypatch.setattr(Tr, "_prologue_scan", spy)
    Tr.train(
        registry.lineitem_training(spark, sf_small),
        registry.LINEITEM_TRAINING_SCHEMA,
        max_depth=1,
    )
    assert len(plans) == 1
    assert "Scan parquet" not in plans[0], plans[0]
    assert "Scan ExistingRDD" in plans[0], plans[0]


def test_decontam_spans_no_cartesian_no_python(spark, sf_small):
    """Passage-level decontamination: candidate generation is the
    df-capped gram equi-join (never corpus×benchmark raw), the islands
    window partitions by (pair, diagonal), and everything stays
    JVM-side."""
    for name in ("decontaminate_spans", "decontaminate_spans_apply"):
        p = plan_of(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in p, name
        assert "EvalPython" not in p, name
        assert "SinglePartition" not in p, name


def test_bpe_word_count_is_one_exchange(spark, sf_small):
    """BPE training's only corpus-sized stage: the word-frequency table
    is ONE map-side-combined grouped count off one scan — every merge
    iteration thereafter runs on the vocab-sized table."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import bpe as B
    from c4_5decisiontreebasedonmapreduce_spark.operators.text import docs

    p = plan_of(B.word_counts(docs(spark, sf_small)))
    assert p.count(") Scan parquet") == 1
    assert p.count(") Exchange") == 1
    assert "partial_count" in p or "HashAggregate" in p  # map-side combine
    assert "EvalPython" not in p


def test_ivfpq_broadcast_only_no_python(spark, sf_small):
    """IVF-PQ: the codebook/sub-codebook/LUT sides are always broadcast
    (BNLJ = the deliberate broadcast crossJoins against k-sized
    relations; a non-broadcast cartesian would be CartesianProduct),
    scoring joins are hash joins, and no Python touches the path."""
    p = plan_of(QUERIES["similarity_ann_ivfpq"](spark, sf_small))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "SinglePartition" not in p


def test_benchmark_grams_join_no_shuffle(spark, sf_small, tmp_path):
    """The persisted benchmark gram table (bucketed by the gram-hash
    join key) must feed the passage-scrub candidate join with NO
    Exchange on the benchmark side — the moving corpus is the only side
    that shuffles. The decontamination sibling of
    test_span_persisted_corpus_join_no_shuffle."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import dedup as D
    from c4_5decisiontreebasedonmapreduce_spark.operators import text as TX

    table = "bench_grams_plan_test"
    try:
        bench = D.write_benchmark_grams(
            spark, sf_small, table=table, n_buckets=8,
            path=str(tmp_path / "bench_grams"),
        )
        corpus = D._positioned_grams(
            TX.docs(spark, sf_small).where(
                F.col("doc_id") % D.DECONTAM_BENCH_MOD
                != D.DECONTAM_BENCH_REM
            )
        ).localCheckpoint()
        corpus_df = corpus.groupBy("gh").agg(
            F.count_distinct("doc_id").alias("cdf")
        )
        hot = (
            spark.table(f"{table}_df")
            .join(corpus_df, "gh", "full")
            .where(
                F.coalesce(F.col("cdf"), F.lit(0))
                + F.coalesce(F.col("bdf"), F.lit(0))
                > D.SPAN_GRAM_DF_CAP
            )
            .select("gh")
            .localCheckpoint()  # isolate the candidate JOIN's exchanges
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        # force SMJ: a broadcast candidate join would trivially have no
        # shuffle and prove nothing about the bucketed layout
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            c = corpus.join(F.broadcast(hot), "gh", "left_anti")
            b = bench.join(F.broadcast(hot), "gh", "left_anti")
            joined = c.select(
                F.col("doc_id").alias("doc_a"),
                F.col("pos").alias("pos_a"),
                "gh",
            ).join(
                b.select(
                    F.col("bench_id").alias("doc_b"),
                    F.col("pos").alias("pos_b"),
                    "gh",
                ),
                "gh",
            )
            p = plan_of(joined)
            assert "SortMergeJoin" in p, p
            assert "Bucketed: true" in p, p
            assert p.count(") Exchange") == 1, p  # the corpus side only
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_df")


def test_ivfpq_persisted_reads_codes_not_vectors(spark, sf_small, tmp_path):
    """The PQ scale claim, in the plan: the persisted-path query's ONLY
    parquet scan is the codes table — 4 narrow columns, no embedding
    array anywhere in a parquet ReadSchema. Raw vectors reach the plan
    solely through the session-materialized refine relation."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        similarity as S,
    )

    table = "pq_codes_plan_test"
    try:
        S.write_pq_codes(
            spark, sf_small, table=table, path=str(tmp_path / "pq")
        )
        df = S.similarity_ann_ivfpq_persisted(
            spark, sf_small, codes=spark.table(table)
        )
        p = plan_of(df)
        assert p.count(") Scan parquet") == 1, p
        scan_schemas = [
            ln for ln in p.splitlines() if "ReadSchema" in ln
        ]
        assert scan_schemas and all(
            "embedding" not in ln for ln in scan_schemas
        ), scan_schemas
        assert "CartesianProduct" not in p and "EvalPython" not in p
        assert df.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pretraining_decontam_plan_clean(spark, sf_small):
    """The fused scrub→decontaminate→dedup→gate→pack query: the corpus
    enters through the ONE materialized scrubbed projection (final plan
    scans no parquet at all), the flagged-leak subtraction broadcasts,
    and nothing is cartesian, Python, or single-partition."""
    p = plan_of(QUERIES["pipeline_pretraining_decontam"](spark, sf_small))
    assert p.count(") Scan parquet") == 0, p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "BroadcastHashJoin" in p  # the flagged anti-join broadcasts


def test_r9_tpch_shapes_plan_clean(spark, sf_small):
    """The round-9 TPC-H shapes keep their documented plan properties:
    no cartesian products (Q21's non-equi EXISTS/NOT-EXISTS components
    are anchored by the orderkey equi component; Q19's OR-of-ANDs stays
    a residual on ONE join pass, never a 3-scan union), dims broadcast,
    and the scalar subquery in Q22 is the only nested-loop join allowed
    anywhere (its build side is one row)."""
    for name in (
        "q12_priority_class",
        "q14_promo_revenue",
        "q16_supplier_cnt",
        "q19_disjunctive_revenue",
        "q21_sole_returner",
        "q7_volume_shipping",
        "q2_min_cost_supplier",
        "q13_customer_distribution",
        "q17_small_qty_revenue",
    ):
        p = plan_of(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    # Q13's priority predicate lives in the JOIN CONDITION, so Catalyst
    # may push it to the orders scan (inner side of the outer join) but
    # must never turn it into a post-join Filter — that would delete the
    # zero-order customers the query exists to count. Assert the optimal
    # outcome: pushed to the parquet scan, and a LeftOuter join survives.
    p = plan_of(QUERIES["q13_customer_distribution"](spark, sf_small))
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in p, p
    assert "LeftOuter" in p, p
    # Q22/Q11: the 1-row scalar threshold crosses as a broadcast nested
    # loop — allowed because the build side is a single row; never a
    # cartesian.
    for name in (
        "q22_dormant_customers",
        "q11_important_stock",
        "q15_top_supplier",
    ):
        p = plan_of(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in p, name
    # Q19 evaluates the disjunction on one lineitem ⋈ part pass: exactly
    # one lineitem scan in the plan (a union rewrite would show three).
    p = plan_of(QUERIES["q19_disjunctive_revenue"](spark, sf_small))
    assert plan_scan_count(p, "lineitem") == 1, p
    # Q14's month predicate reaches the lineitem scan.
    p = plan_of(QUERIES["q14_promo_revenue"](spark, sf_small))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual" in p, p
    # Q21's top-25 is TakeOrderedAndProject, never a global sort.
    p = plan_of(QUERIES["q21_sole_returner"](spark, sf_small))
    assert "TakeOrderedAndProject" in p, p


def plan_scan_count(plan: str, table: str) -> int:
    """Number of parquet scans of `table` in a formatted plan: each scan
    node contributes exactly one `Location: … [<path>/<table>.parquet]`
    detail line."""
    return sum(
        1
        for line in plan.splitlines()
        if "Location" in line and f"{table}.parquet" in line
    )


def test_embedding_persisted_corpus_join_no_shuffle(spark, sf_small, tmp_path):
    """r10: the persisted embedding-dedup corpus assignment table
    (bucketed by centroid_id) must join a batch assignment relation with
    NO Exchange on the corpus side — the embedding-family twin of
    test_incremental_persisted_corpus_join_no_shuffle."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import dedup as D

    table = "emb_corpus_plan_test"
    corpus = D.write_embedding_corpus(
        spark, sf_small, table=table, n_buckets=8,
        path=str(tmp_path / "emb_corpus_plan"),
    )
    e = D.embeddings_with_norm(spark, sf_small)
    is_batch = (F.col("vec_id") % D.INCR_BATCH_MOD) == D.INCR_BATCH_REM
    batch = D._emb_assignments(
        e.where(is_batch), D._emb_centroids(e).localCheckpoint()
    ).localCheckpoint()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_bloom = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the runtime bloom-filter subquery injected for this SMJ carries
    # its own Exchange in the formatted output — an optimizer side
    # planchannel, not a corpus shuffle; silence it so the count below
    # isolates the JOIN's exchanges
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    try:
        joined = batch.select(
            F.col("vec_id").alias("vec_new"), "centroid_id"
        ).join(
            corpus.select(F.col("vec_id").alias("dup_of"), "centroid_id"),
            "centroid_id",
        )
        p = plan_of(joined)
        assert "SortMergeJoin" in p, p
        assert "Bucketed: true" in p, p
        assert p.count(") Exchange") == 1, p  # batch side only
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", prev_bloom
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bm25_postings_join_no_shuffle_no_text_scan(spark, sf_small, tmp_path):
    """The persisted BM25 index (token-bucketed postings) must join the
    query terms with NO Exchange on the postings side, and the scoring
    plan must never scan the corpus text column — the index IS the
    corpus as far as retrieval is concerned. Mirrors
    test_lm_persisted_table_join_no_shuffle."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        retrieval as RV,
    )

    table, stats = "bm25_plan_test", "bm25_plan_test_stats"
    RV.write_postings(
        spark, sf_small, table=table, stats_table=stats,
        path=str(tmp_path / "post"), stats_path=str(tmp_path / "stats"),
    )
    try:
        df = RV.bm25_topk_persisted(
            spark, sf_small, table=table, stats_table=stats
        )
        p = plan_of(df)
        # exactly ONE scan reads a text column — the ~1% query slice;
        # the corpus text is never re-read (the index replaced it)
        text_scans = [
            seg.split("\n")[0]
            for seg in p.split("ReadSchema: ")[1:]
            if "text" in seg.split("\n")[0]
        ]
        assert len(text_scans) == 1, text_scans
        # the broadcast of qterms leaves the bucketed postings scan
        # exchange-free: the only shuffles are the candidate aggregate
        # and the per-query window
        post_scan = [
            seg for seg in p.split("Scan parquet")[1:] if table in seg[:200]
        ]
        assert post_scan, p
        assert "Bucketed: true" in p, p
        assert df.count() > 0
        # identity with the in-memory op
        a = sorted(map(tuple, df.collect()))
        b = sorted(map(tuple, RV.bm25_topk(spark, sf_small).collect()))
        assert a == b
    finally:
        for t in (table, stats):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_scrub_repetition_is_map_only(spark, sf_small):
    """The repetition APPLY step must stay a pure projection over the
    scan, like the signals it implements: a doc's lines live inside its
    own row, so the corpus rewrite has NO exchange, join, explode,
    aggregate, window, or sort — embarrassingly parallel at any scale."""
    p = plan_of(QUERIES["scrub_repetition"](spark, sf_small))
    for op in ("Exchange", "Join", "Generate", "HashAggregate", "Sort",
               "Window"):
        assert op not in p, (op, p)
    sch = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "lang" not in sch and "source" not in sch, sch


def test_cluster_balanced_cap_exchange_is_key_width(spark, sf_small):
    """The per-centroid cap must (a) shuffle only the (vec_id,
    centroid_id, hash) projection — the vector payload is projected
    away BEFORE the exchange, so the shuffled bytes are key-width, not
    embedding-width — and (b) pre-truncate each map partition to the
    cap via WindowGroupLimit, so a hot centroid ships at most
    cap·n_partitions rows, never its whole bucket."""
    p = plan_of(QUERIES["sample_cluster_balanced"](spark, sf_small))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert "WindowGroupLimit" in p, p
    cap_block = next(
        b for b in p.split("\n\n")
        if "Exchange" in b and "hashpartitioning(centroid_id" in b
    )
    assert "Input [3]" in cap_block, cap_block
    assert "emb" not in cap_block, cap_block
