"""Round-11 operators: retention cohorts (brute-force per-user replay),
the persisted snapshot diff, and the Zipf-vocabulary BM25 path."""

from collections import Counter

from pyspark.sql import functions as F

from c4_5decisiontreebasedonmapreduce_spark.operators import (
    relational as R,
)
from c4_5decisiontreebasedonmapreduce_spark.sources.parquet import (
    load_table,
)

# ---------------------------------------------------------------------------
# retention cohorts


def test_retention_cohorts_brute_force(spark, sf_small):
    """The distributed matrix must equal a pure-Python per-user replay of
    the raw event stream — cohort assignment, activity collapse, offset
    windowing, and cohort sizing all recomputed independently."""
    rows = (
        load_table(spark, sf_small, "events")
        .select("user_id", "event_type", F.to_date("ts").alias("d"))
        .collect()
    )
    first_signup: dict = {}
    for r in rows:
        if r.event_type == R.RETENTION_COHORT_EVENT and (
            r.user_id not in first_signup or r.d < first_signup[r.user_id]
        ):
            first_signup[r.user_id] = r.d
    active = {(r.user_id, r.d) for r in rows}
    cells: Counter = Counter()
    for u, d in active:
        cd = first_signup.get(u)
        if cd is None:
            continue
        off = (d - cd).days
        if 0 <= off <= R.RETENTION_MAX_OFFSET:
            cells[(cd, off)] += 1
    sizes = Counter(first_signup.values())

    got = {
        (r.cohort_date, r.day_offset): (
            r.n_active,
            r.cohort_size,
            r.retention_rate,
        )
        for r in R.retention_cohorts(spark, sf_small).collect()
    }
    assert set(got) == set(cells), "cohort x offset cell sets differ"
    for key, (n, size, rate) in got.items():
        assert n == cells[key], key
        assert size == sizes[key[0]], key
        # python round() is banker's, Spark's is half-up: compare with
        # tolerance rather than replicating the rounding mode
        assert abs(rate - cells[key] / sizes[key[0]]) < 1e-6, key


def test_retention_cohorts_shape(spark, sf_small):
    """Offsets stay in [0, MAX]; day-0 retention counts the signup
    itself, so every cohort's day-0 cell exists with n_active ==
    cohort_size (the signup event IS activity on the cohort date)."""
    out = R.retention_cohorts(spark, sf_small).collect()
    assert out
    by_cohort: dict = {}
    for r in out:
        assert 0 <= r.day_offset <= R.RETENTION_MAX_OFFSET
        assert 0 < r.n_active <= r.cohort_size
        by_cohort.setdefault(r.cohort_date, {})[r.day_offset] = r
    for cd, offs in by_cohort.items():
        assert 0 in offs, f"cohort {cd} missing its day-0 cell"
        assert offs[0].n_active == offs[0].cohort_size, cd
        assert offs[0].retention_rate == 1.0, cd


# ---------------------------------------------------------------------------
# persisted snapshot diff


def test_diff_snapshots_persisted_matches_inmemory(spark, sf_small, tmp_path):
    """The persisted audit (hash-at-ingest, bucketed tables) must return
    exactly the in-memory op's rows."""
    from c4_5decisiontreebasedonmapreduce_spark.operators.text import docs

    t1, t2 = "snap_eq_v1", "snap_eq_v2"
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
        got = sorted(
            map(tuple, R.diff_snapshots_persisted(spark, t1, t2).collect())
        )
        want = sorted(map(tuple, R.diff_snapshots(spark, sf_small).collect()))
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


# ---------------------------------------------------------------------------
# Zipf-vocabulary BM25: the df-cap's production path


def test_bm25_zipf_cap_binds_and_bounds_join(spark, sf_small):
    """The relative df-cap must BIND on the Zipf workload (posting rows
    drop materially) and the scoring join's candidate row count — the
    quantity the cap exists to bound at 100 TB — must shrink by more
    than the posting rows do (the dropped terms are exactly the
    longest posting lists)."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        retrieval as RV,
    )

    ids = RV.docs(spark, sf_small).select("doc_id")
    is_query = (
        F.col("doc_id") % RV.BM25_QUERY_MOD == RV.BM25_QUERY_REM
    )
    tok = RV.zipf_tokens(ids)
    post, dl = RV._postings_from_tokens(tok.where(~is_query))
    stats = RV._stats_rel(ids.where(~is_query), dl)
    n_docs = stats.collect()[0]["n_docs"]
    total_rows = post.count()
    capped = post.where(F.col("df") * RV.BM25_ZIPF_CAP_DIV <= n_docs)
    capped_rows = capped.count()
    assert capped_rows < total_rows * 0.8, (
        f"cap not binding: {capped_rows}/{total_rows} posting rows kept"
    )

    qterms = (
        tok.where(is_query)
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )
    cand_uncapped = qterms.join(post, "token").count()
    cand_capped = qterms.join(capped, "token").count()
    assert cand_capped < cand_uncapped * 0.5, (
        f"cap cut candidates only {cand_uncapped}->{cand_capped}"
    )
    # and the capped op still returns ranked results for real queries
    out = RV.bm25_topk_zipf(spark, sf_small).collect()
    assert out
    assert {r.rank for r in out} <= set(range(1, RV.BM25_TOP_K + 1))


def test_bm25_zipf_scan_is_docid_only(spark, sf_small):
    """The Zipf twin generates its workload arithmetically: every scan
    in the plan reads ONLY doc_id (no text bytes move)."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        retrieval as RV,
    )

    import contextlib
    import io

    df = RV.bm25_topk_zipf(spark, sf_small)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    for line in buf.getvalue().splitlines():
        if "ReadSchema" in line:
            assert "text" not in line, line
            assert "doc_id" in line, line


# ---------------------------------------------------------------------------
# released unigram tokenizer: artifact + composition


def _independent_viterbi(word, logp, max_len):
    """Descending-j scan with an explicit tie-break arm — a genuinely
    different code path from production's ascending-scan strict-> DP
    (same fixed rule: on equal score the longer final piece wins)."""
    n = len(word)
    neg = float("-inf")
    dp = [neg] * (n + 1)
    dp[0] = 0.0
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(i - 1, max(0, i - max_len) - 1, -1):
            lp = logp.get(word[j:i])
            if lp is None or dp[j] == neg:
                continue
            s = dp[j] + lp
            if s > dp[i] or (s == dp[i] and j < back[i]):
                dp[i], back[i] = s, j
    out, i = [], n
    while i > 0:
        out.append(word[back[i] : i])
        i = back[i]
    return out[::-1], dp[n] > neg


def test_unigram_artifact_reproducible(spark, sf_oracle):
    """The committed vocab artifact IS unigram_train's output at the
    driver's grading scale — guards artifact drift (the
    test_bpe_artifact_reproducible pattern)."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        unigram as UG,
    )

    if not sf_oracle.rstrip("/").endswith("sf0.01"):
        import pytest

        pytest.skip("artifact is pinned to the sf0.01 training corpus")
    live = [
        (r.piece, r.piece_len, r.cnt, r.logprob, r.rank)
        for r in UG.unigram_train(spark, sf_oracle).collect()
    ]
    assert live == UG.fixed_vocab()


def test_unigram_piece_counts_vs_independent_viterbi(spark, sf_small):
    """Per-document piece counts under the RELEASED vocab must equal a
    pure-Python replay: independent Viterbi per distinct word (with the
    char-count fallback for unsegmentable words), summed per doc."""
    from collections import defaultdict

    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        unigram as UG,
    )
    from c4_5decisiontreebasedonmapreduce_spark.operators.text import docs

    vocab = UG.fixed_vocab()
    logp = {p: lp for p, _l, _c, lp, _r in vocab}
    pieces_set = {p for p, *_ in vocab}

    rows = docs(spark, sf_small).select("doc_id", "text").collect()
    import re as _re

    expect: dict = defaultdict(int)
    seg_cache: dict = {}
    for r in rows:
        for w in _re.split(r"[^a-z0-9]+", (r.text or "").lower()):
            if not w:
                continue
            if w not in seg_cache:
                pieces, ok = _independent_viterbi(
                    w, logp, UG.UNIGRAM_MAX_PIECE_LEN
                )
                seg_cache[w] = (
                    len(pieces)
                    if ok and all(p in pieces_set for p in pieces)
                    else len(w)
                )
            expect[r.doc_id] += seg_cache[w]

    got = {
        r.doc_id: r.wtok
        for r in UG.unigram_piece_counts(
            docs(spark, sf_small).select("doc_id", "text")
        ).collect()
    }
    assert got == dict(expect)


def test_pack_sequences_unigram_conservation(spark, sf_small):
    """Shard totals conserve the per-doc piece counts, and every window
    except the last one per shard holds exactly SEQ_LEN pieces."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        packing as PK,
    )
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        unigram as UG,
    )
    from c4_5decisiontreebasedonmapreduce_spark.operators.text import docs

    counts = {
        r.doc_id: r.wtok
        for r in UG.unigram_piece_counts(
            docs(spark, sf_small).select("doc_id", "text")
        ).collect()
    }
    out = PK.pack_sequences_unigram(spark, sf_small).collect()
    assert out
    assert sum(r.n_tokens for r in out) == sum(
        c for c in counts.values() if c > 0
    )
    last_chunk = {}
    for r in out:
        last_chunk[r.shard] = max(last_chunk.get(r.shard, -1), r.chunk_id)
    for r in out:
        if r.chunk_id < last_chunk[r.shard]:
            assert r.n_tokens == PK.SEQ_LEN, (r.shard, r.chunk_id)


# ---------------------------------------------------------------------------
# K=100 scaling invariance for the training + relational families
# (r10 VERDICT #6 — the dedup families had two measured decades; this
# pins the statistics/training core and two TPC-H shapes)


def test_k100_training_and_relational_invariance(spark, sf_small, tmp_path):
    """On a 100×-multiplied fact corpus (disjoint orderkeys per copy,
    the probe script's construction):

    - c45_train with min_rows scaled by K produces the IDENTICAL rule
      structure with every per-rule count exactly 100× (uniform
      duplication leaves every frequency ratio — hence every entropy,
      gain ratio, and numeric boundary — unchanged; only the absolute
      counts scale, so the stopping threshold must scale with them);
    - level_stats / numeric_best_split emit the same rows with counts
      scaled where counts appear;
    - q1 (group-by agg) keeps its group keys, q7 keeps its rows.

    The sf0.1 twin with wall times lives in BASELINE.md."""
    import importlib.util
    import os

    from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr
    from c4_5decisiontreebasedonmapreduce_spark.operators.training import (
        LINEITEM_TRAINING_SCHEMA,
        lineitem_training,
    )

    spec = importlib.util.spec_from_file_location(
        "probe_relational_scaling",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "probe_relational_scaling.py",
        ),
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)

    K = 100
    out = str(tmp_path / "x100")
    probe.build_multiplied(spark, sf_small, K, out)

    def rules_of(sf, min_rows):
        model = Tr.train(
            lineitem_training(spark, sf),
            LINEITEM_TRAINING_SCHEMA,
            max_depth=4,
            min_rows=min_rows,
        )
        return sorted(
            (
                tuple(
                    sorted((c.attr, c.op, c.value) for c in r.conditions)
                ),
                r.label,
                r.n,
            )
            for r in model.rules
        )

    base = rules_of(sf_small, 50)
    big = rules_of(out, 50 * K)
    # EXACT at Kx duplication, every leaf. A numeric column's split
    # candidates are exact quantiles (tree.py's _prologue_scan): of n
    # values, edge j of B is the ⌈j·n/B⌉-th smallest. Duplicated K
    # times, that edge is the ⌈j·K·n/B⌉-th smallest of K·n values,
    # which is the ⌈⌈j·K·n/B⌉/K⌉-th = ⌈j·n/B⌉-th smallest of the
    # originals: the same value. Same candidates, counts all scaled by
    # K, so every entropy and gain ratio is unchanged, and min_rows
    # scaled by K stops the same nodes: the same rules, n exactly Kx.
    assert len(base) == len(big) > 0
    assert sum(n for *_, n in big) == K * sum(n for *_, n in base)
    from collections import Counter

    lab_b = Counter(l for _, l, _ in base)
    lab_g = Counter(l for _, l, _ in big)
    assert sum((lab_b - lab_g).values()) <= max(2, len(base) // 8)

    def structure(rule):
        return tuple((a, o) for a, o, _v in rule[0])

    big_by_struct: dict = {}
    for conds, label, n in big:
        big_by_struct.setdefault(structure((conds,)), []).append(
            (conds, label, n)
        )
    matched = 0
    for conds, label, n in base:
        for gc, gl, gn in big_by_struct.get(structure((conds,)), []):
            vals_ok = all(
                bv == gv or abs(gv - bv) <= 0.01 * abs(bv)
                for (_, _, bv), (_, _, gv) in zip(conds, gc)
            )
            if vals_ok and gl == label and gn == K * n:
                matched += 1
                break
    assert matched == len(base), (matched, len(base))
    assert big == [(c, l, K * n) for c, l, n in base]

    from c4_5decisiontreebasedonmapreduce_spark import registry

    qs = registry.queries()
    registry.reset_caches()
    ls_base = qs["level_stats"](spark, sf_small).collect()
    registry.reset_caches()
    ls_big = qs["level_stats"](spark, out).collect()
    registry.reset_caches()
    assert len(ls_big) == len(ls_base)

    # root-level boundary search: EXACT row-for-row equality at 100x
    # (boundaries, entropies, gains — all to their 6dp output rounding)
    nb_base = sorted(
        map(tuple, qs["numeric_best_split"](spark, sf_small).collect())
    )
    nb_big = sorted(
        map(tuple, qs["numeric_best_split"](spark, out).collect())
    )
    assert nb_big == nb_base

    q1_base = {
        r.l_returnflag + r.l_linestatus
        for r in qs["q1_pricing_summary"](spark, sf_small).collect()
    }
    q1_big = {
        r.l_returnflag + r.l_linestatus
        for r in qs["q1_pricing_summary"](spark, out).collect()
    }
    assert q1_base == q1_big
    assert qs["q7_volume_shipping"](spark, out).count() == qs[
        "q7_volume_shipping"
    ](spark, sf_small).count()
