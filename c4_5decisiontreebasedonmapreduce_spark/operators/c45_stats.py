"""C4.5 split statistics as declarative DataFrame pipelines.

This is the Spark-first restatement of the reference's entire distributed
computation — the per-level MapReduce job that, for every (frontier-node,
attribute) pair, computes gain ratio and (for numerics) the best binary
boundary (`/root/reference/src/program/MyMapper.java:28-51`,
`MyReducer.java:36-205`).

Shape of the plan (SURVEY.md §2.D), per tree level:

1. rows are annotated with the id of the frontier rule they satisfy
   (``rid``) — a broadcast-free CASE WHEN chain, since frontier rules
   partition the data by construction;
2. features are melted to ``(rid, aid, value, class)`` with ``stack`` —
   the reference's mapper emission (`MyMapper.java:41-47`) — and
   immediately count-aggregated: Catalyst's partial aggregation means the
   shuffle carries (group, count) pairs, not rows — the combiner the
   reference never had (no combiner class set, `Main.java:188-196`);
3. categorical gain ratios are closed-form aggregates over the contingency
   counts (`MyReducer.java:243-298`);
4. numeric best-split replaces the reference's in-reducer
   buffer-sort-rescan (O(rows) memory + O(distinct×rows) time,
   `MyReducer.java:112-205,300-322`) with a cumulative window over the
   per-value class matrix: O(distinct) shuffled rows per (node, attr) and
   a single ordered pass — this spills via Tungsten sort instead of
   OOMing, which is what makes it viable at 100 TB.

Every quantity matches the reference's formulas (Info / Entr / SplitI /
GainRatio, including the ``SplitI == 0`` special case at
`MyReducer.java:282-298`); deliberate divergences are in SURVEY.md's quirk
ledger (Q1-Q5).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from c4_5decisiontreebasedonmapreduce_spark.functions.entropy import (
    entropy_from_counts,
    xlog2x,
)

# Column-name constants for the statistics relations.
RID, AID, VALUE, CLASS, CNT = "rid", "aid", "value", "class", "cnt"


def melt(
    df: DataFrame,
    attrs: list[str],
    label: str,
    rid_col: str = RID,
    numeric: bool = False,
) -> DataFrame:
    """Unpivot feature columns to ``(rid, aid, value, class)`` rows — the
    reference mapper's node×attribute multicast (`MyMapper.java:33-50`),
    expressed with ``stack`` so it stays in whole-stage codegen."""
    if not attrs:
        return (
            df.select(
                F.col(rid_col).alias(RID),
                F.lit("").alias(AID),
                (F.lit(None).cast("double") if numeric else F.lit(None).cast("string")).alias(VALUE),
                F.col(label).alias(CLASS),
            )
            .where(F.lit(False))
        )
    cast = "double" if numeric else "string"
    pairs = ", ".join(f"'{a}', cast(`{a}` as {cast})" for a in attrs)
    stacked = df.selectExpr(
        f"`{rid_col}` as {RID}",
        f"stack({len(attrs)}, {pairs}) as ({AID}, {VALUE})",
        f"`{label}` as {CLASS}",
    )
    return stacked.where(F.col(VALUE).isNotNull())


CC_AID = "__cc__"  # synthetic melt attribute carrying the class histogram


def melt_mixed(
    df: DataFrame,
    cat_names: list[str],
    num_names: list[str],
    label: str,
    rid_col: str = RID,
    weight: str | None = None,
) -> DataFrame:
    """Single-pass unpivot of categorical AND numeric features to
    ``(rid, aid, value_s, value_d, class)``, plus one synthetic
    ``__cc__`` row per input row so the per-node class histogram rides
    the same shuffle.

    This is the one-job-per-level shape of the reference
    (`Main.java:59-123`) with the combiner it never had: the training
    pass per tree level becomes ONE map-side-combined exchange whose
    grouped output feeds class histograms, categorical gain ratios and
    numeric best-splits. Collected to the driver, that is one exchange
    and one read of the level; reduced distributed, its consumers do
    not share the exchange, and each re-reads the level (the wide
    table's 600-node level ran four map stages over it).

    ``weight`` names a row-weight column to carry along (Quinlan-
    fractional training); NULL attribute values are then KEPT, so their
    group's mass is the (node, attribute) unknown mass."""
    entries = [f"'{CC_AID}', cast(null as string), cast(null as double)"]
    for a in cat_names:
        entries.append(f"'{a}', cast(`{a}` as string), cast(null as double)")
    for a in num_names:
        entries.append(f"'{a}', cast(null as string), cast(`{a}` as double)")
    stacked = df.selectExpr(
        f"`{rid_col}` as {RID}",
        f"stack({len(entries)}, {', '.join(entries)})"
        " as (aid, value_s, value_d)",
        f"`{label}` as {CLASS}",
        *([f"`{weight}` as `{weight}`"] if weight else []),
    )
    return stacked if weight else _drop_unknown(stacked)


def _drop_unknown(melted: DataFrame) -> DataFrame:
    """The melt's rows minus those whose attribute value is NULL."""
    return melted.where(
        (F.col(AID) == CC_AID)
        | F.col("value_s").isNotNull()
        | F.col("value_d").isNotNull()
    )


def mixed_contingency(
    melted: DataFrame, weight: str | None = None
) -> DataFrame:
    """(rid, aid, value_s, value_d, class) → counts, or sums of the
    ``weight`` column (exact DECIMAL masses); the level's single
    data-sized aggregation."""
    agg = F.sum(weight) if weight else F.count("*")
    return melted.groupBy(RID, AID, "value_s", "value_d", CLASS).agg(
        agg.alias(CNT)
    )


def contingency(melted: DataFrame) -> DataFrame:
    """(rid, aid, value, class) → counts. The reference builds these with
    linear-scan lookups per reduce group (`MyReducer.java:51-92`); here it
    is one hash aggregate with map-side partials."""
    return melted.groupBy(RID, AID, VALUE, CLASS).agg(F.count("*").alias(CNT))


def node_class_counts(
    df: DataFrame, label: str, rid_col: str = RID
) -> DataFrame:
    """Per-node class histogram: basis for Info and for majority labels."""
    return (
        df.groupBy(F.col(rid_col).alias(RID), F.col(label).alias(CLASS))
        .agg(F.count("*").alias(CNT))
    )


def node_info(class_counts: DataFrame) -> DataFrame:
    """Per-node class entropy ``Info`` (`MyReducer.java:243-252`) and row
    count ``n``."""
    return class_counts.groupBy(RID).agg(
        F.sum(CNT).alias("n"),
        entropy_from_counts(F.sum(CNT), F.sum(xlog2x(F.col(CNT)))).alias(
            "info"
        ),
    )


def attribute_info(
    cont: DataFrame, cat_names: list[str], label_domain: list[str]
) -> DataFrame:
    """:func:`node_info`'s per-(rid, aid) twin for a weighted contingency
    (Quinlan-fractional training): ``info`` and ``n`` over the rows whose
    attribute value is KNOWN, and the ``unknown`` mass of the rest.
    Numeric attributes count in-domain classes only, as
    :func:`numeric_best_split`'s pivot does."""
    known = F.col("value_s").isNotNull() | F.col("value_d").isNotNull()
    per_class = (
        cont.where(
            (F.col(AID) != CC_AID)
            & (F.col(AID).isin(cat_names) | F.col(CLASS).isin(label_domain))
        )
        .groupBy(RID, AID, CLASS)
        .agg(
            F.sum(F.when(known, F.col(CNT)).otherwise(0.0)).alias("kc"),
            F.sum(F.when(known, 0.0).otherwise(F.col(CNT))).alias("uc"),
        )
    )
    return per_class.groupBy(RID, AID).agg(
        F.sum("kc").alias("n"),
        entropy_from_counts(F.sum("kc"), F.sum(xlog2x(F.col("kc")))).alias(
            "info"
        ),
        F.sum("uc").alias("unknown"),
    )


def _split_info_col(
    n: Column, sum_xlog2x: Column, unknown: Column | None
) -> Column:
    """Split information over the known branches, plus — under
    Quinlan-fractional training — the unknown mass as one more branch
    (xlog2x(0) = 0: an empty unknown branch leaves the value exact)."""
    if unknown is None:
        return entropy_from_counts(n, sum_xlog2x)
    return entropy_from_counts(n + unknown, sum_xlog2x + xlog2x(unknown))


def _gain_ratio_col(
    info: Column, entr: Column, split_info: Column, known: Column | None = None
) -> Column:
    """``GR = (Info - Entr)/SplitI`` with the reference's special case
    (`MyReducer.java:282-298`): SplitI == 0 → 0 if the node is pure
    (Info == 0) else a tiny positive 1e-5 so the attribute remains
    selectable but near-worst. ``known`` (Quinlan-fractional) is the
    known fraction F that scales the ratio."""
    gain = F.greatest(F.lit(0.0), info - entr)  # clamp float noise
    gr = F.when(
        split_info == 0.0,
        F.when(info == 0.0, F.lit(0.0)).otherwise(F.lit(0.00001)),
    ).otherwise(gain / split_info)
    return gr if known is None else known * gr


def _info_keys(info_df: DataFrame):
    """Join keys of the Info relation: per node (:func:`node_info`), or
    per (node, attribute) under fractional training
    (:func:`attribute_info`), whose unknown mass and known fraction the
    builders then fold in."""
    if AID not in info_df.columns:
        return RID, None, None
    unknown = F.col("unknown")
    return [RID, AID], unknown, F.col("n") / (F.col("n") + unknown)


def categorical_stats(cont: DataFrame, info_df: DataFrame) -> DataFrame:
    """Per (rid, aid) for categorical attributes: conditional entropy,
    split information, gain ratio (`MyReducer.java:254-298`).

    Two cascaded hash aggregates (value level → attribute level) + a
    broadcast join of the tiny per-node Info relation. With a
    per-attribute ``info_df`` (:func:`attribute_info`), ``cont`` holds
    the known rows only.
    """
    keys, unknown, known = _info_keys(info_df)
    x_attr = []  # Σ xlog2x(nv) again, for the unknown-branch split info
    if unknown is not None:
        x_attr = [F.sum(xlog2x(F.col("nv"))).alias("x_attr")]
    per_value = cont.groupBy(RID, AID, VALUE).agg(
        F.sum(CNT).alias("nv"),
        entropy_from_counts(F.sum(CNT), F.sum(xlog2x(F.col(CNT)))).alias(
            "ent_v"
        ),
    )
    per_attr = per_value.groupBy(RID, AID).agg(
        F.sum("nv").alias("n_attr"),
        (F.sum(F.col("nv") * F.col("ent_v")) / F.sum("nv")).alias("entr"),
        entropy_from_counts(
            F.sum("nv"), F.sum(xlog2x(F.col("nv")))
        ).alias("split_info"),
        *x_attr,
    )
    joined = per_attr.join(F.broadcast(info_df), keys)
    if known is not None:
        joined = joined.withColumn(
            "split_info",
            _split_info_col(F.col("n_attr"), F.col("x_attr"), unknown),
        )
    return joined.select(
        RID,
        AID,
        "info",
        "entr",
        "split_info",
        _gain_ratio_col(
            F.col("info"), F.col("entr"), F.col("split_info"), known
        ).alias("gain_ratio"),
    )


N_CUM_BUCKETS = 64
# numeric_best_split(bucketed=True) falls back to the plain per-group
# window when the materialized per-value matrix has at most this many
# rows: a 4M-row single-group sort is well within one task's comfort
# (Tungsten sorts ~10M rows/s), while the bucketed two-phase prefix
# sum's fixed overhead costs ~1.1 s at sf0.1. Env-overridable so a
# deployment can move the crossover without a code change.
NUMERIC_PLAIN_WINDOW_MAX_ROWS = int(
    os.environ.get(
        "SPARK_GRAFT_NUMERIC_PLAIN_WINDOW_MAX_ROWS", 4_000_000
    )
)


def numeric_best_split(
    cont: DataFrame,
    info_df: DataFrame,
    label_domain: list[str],
    min_ratio: float = 0.1,
    pre_aggregated: bool = True,
    bucketed: bool = True,
) -> DataFrame:
    """Per (rid, aid) for numeric attributes: the boundary minimizing
    conditional entropy, subject to the reference's 10%-per-side guard
    (`MyReducer.java:34,188-190`), reporting gain ratio at the optimum
    (`MyReducer.java:193-198`).

    Candidate boundaries are the sorted distinct values except the max
    (`MyReducer.java:140-144`). Instead of buffering the column per group,
    the per-value class matrix (|distinct| rows) gets cumulative class
    counts — every candidate's two-side entropy falls out of one ordered
    pass.

    With ``bucketed=True`` the cumulative sum is a TWO-PHASE distributed
    prefix sum, not a naive ``Window.partitionBy(rid, aid)``: with few
    (node, attribute) groups, a per-group window serializes the whole
    sort onto one task per group — the skew that kills this at scale
    when a column is near-all-distinct. Values are bucketed uniformly
    between the group's min/max (``width_bucket``; min/max ride the same
    totals aggregate), cumsums run within buckets in parallel, and tiny
    per-bucket offsets are broadcast back. Results are identical — this
    is physical parallelism only. ``bucketed=False`` (the training path,
    where quantile binning already caps groups at max_bins rows) uses
    the plain per-group window: three fewer exchanges per call.

    Attributes with no guard-passing candidate produce no row (the
    reference emits gr=-1 and the driver never selects them,
    `MyReducer.java:130,200`).
    """
    classes = [f"c{i}" for i in range(len(label_domain))]
    # ``pre_aggregated=False`` takes raw melted (rid, aid, value, class)
    # rows and pivots in a single exchange — two back-to-back aggregations
    # on near-identical keys would shuffle the |distinct|-sized relation
    # twice. True (the training path) reuses an existing shared contingency.
    agg = F.sum(CNT) if pre_aggregated else F.count(F.lit(1))
    # single select for the fill+rename (each extra DataFrame op is a
    # full re-analysis of the plan — this path runs once per tree level)
    matrix = (
        cont.groupBy(RID, AID, VALUE)
        .pivot(CLASS, list(label_domain))
        .agg(agg)
        .select(
            RID,
            AID,
            VALUE,
            *[
                F.coalesce(F.col(f"`{lab}`"), F.lit(0)).alias(c)
                for c, lab in zip(classes, label_domain)
            ],
        )
    )

    def _plain_window(mat: DataFrame) -> DataFrame:
        w_cum = (
            Window.partitionBy(RID, AID)
            .orderBy(VALUE)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(RID, AID)
        cum = mat.select(
            RID,
            AID,
            VALUE,
            *[F.sum(c).over(w_cum).alias(f"le_{c}") for c in classes],
            *[F.sum(c).over(w_all).alias(f"tot_{c}") for c in classes],
        )
        return _score_candidates(cum, info_df, classes, min_ratio)

    if not bucketed:
        return _plain_window(matrix)

    # the matrix feeds three branches (totals, the bucketed main pass,
    # per-bucket offsets); materialize it once. AQE exchange reuse only
    # partially dedups the copies — the un-checkpointed AQE final plan
    # still carried 5 parquet scans (scan+melt replayed per non-reused
    # branch). Locally the two are timing-equivalent (r6 interleaved A/B:
    # warm-min 3.49s vs 3.42s at sf0.1 — the replays read page-cached
    # parquet; the r5 "35% slower" reading was load noise), but at
    # cluster scale replaying a cold 100 TB scan+melt 4 extra times is
    # the real cost and the |distinct-values|-row checkpoint is not.
    matrix = matrix.localCheckpoint()
    # adaptive algorithm selection (the driver_stats_max_rows pattern):
    # the bucketed machinery exists for per-group sorts one task cannot
    # do — near-all-distinct numeric columns at data scale. Its fixed
    # overhead (totals build, bucket-assign join, offsets window, 3
    # checkpoint reads) loses to the plain per-group window WHEN the
    # plain window can actually parallelize — and a per-group running
    # sum parallelizes across GROUPS only. So the choice reads the
    # materialized matrix's group structure (one tiny aggregate over
    # the checkpoint — |frontier × attrs| result rows) and takes the
    # plain window iff (a) total rows fit the bound (worst-case
    # single-group sort stays one comfortable task) and (b) there are
    # enough groups to cover a useful fraction of the cluster.
    # Measured at sf0.1, warm-min, integrated query: level_stats'
    # matrix (16 groups / 2.4M rows) plain 3.43 s vs bucketed 4.25 s;
    # the root-frontier standalone matrix (4 groups, one holding ~600k
    # near-distinct values) plain 3.66 s vs bucketed 3.10 s — either
    # fixed choice loses one of the two. An explicit wide repartition
    # on (rid, aid) was ALSO tried and measured worse than both
    # (4.29/4.41 s): ≤16 key hashes under-fill 32 partitions and the
    # stage straggles on the hottest group, while AQE's byte-coalesce
    # packs the cold groups together. Results identical on every path
    # (physical parallelism only, pinned in tests); over-bound
    # relations always bucket.
    if NUMERIC_PLAIN_WINDOW_MAX_ROWS > 0:
        gstats = matrix.groupBy(RID, AID).count().collect()
        n_rows = sum(r["count"] for r in gstats)
        par = matrix.sparkSession.sparkContext.defaultParallelism
        if n_rows <= NUMERIC_PLAIN_WINDOW_MAX_ROWS and len(gstats) >= max(
            8, par // 4
        ):
            return _plain_window(matrix)
    # per-(rid, aid) totals + value range: one parallel hash aggregate.
    # ALSO checkpointed (it is |rid×aid| rows — tiny): the totals
    # subtree feeds TWO broadcasts (the main cumsum join below and the
    # offsets branch's copy of ``m``) whose expression ids differ, so
    # neither static ReuseExchange nor AQE dedups them — the
    # un-checkpointed plan re-read the whole |distinct-values| matrix
    # checkpoint and re-ran this aggregate once per branch (4 matrix
    # reads/run observed at sf0.1, 2 of them for duplicate totals).
    totals = matrix.groupBy(RID, AID).agg(
        *[F.sum(c).alias(f"tot_{c}") for c in classes],
        F.min(VALUE).alias("vmin"),
        F.max(VALUE).alias("vmax"),
    ).localCheckpoint()
    m = matrix.join(F.broadcast(totals), [RID, AID]).withColumn(
        "bucket",
        F.when(
            F.col("vmax") > F.col("vmin"),
            F.width_bucket(
                F.col(VALUE), F.col("vmin"), F.col("vmax"), N_CUM_BUCKETS
            ),
        ).otherwise(F.lit(1)),
    )
    # phase 1: cumsum within (rid, aid, bucket) — parallel across buckets
    w_in = (
        Window.partitionBy(RID, AID, "bucket")
        .orderBy(VALUE)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = m.select(
        RID,
        AID,
        VALUE,
        "bucket",
        *[F.col(f"tot_{c}") for c in classes],
        *[F.sum(c).over(w_in).alias(f"in_{c}") for c in classes],
    )
    # phase 2: per-bucket totals → exclusive running offsets (tiny)
    w_off = (
        Window.partitionBy(RID, AID)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        m.groupBy(RID, AID, "bucket")
        .agg(*[F.sum(c).alias(f"b_{c}") for c in classes])
        .select(
            RID,
            AID,
            "bucket",
            *[
                (F.sum(f"b_{c}").over(w_off) - F.col(f"b_{c}")).alias(
                    f"off_{c}"
                )
                for c in classes
            ],
        )
    )
    cum = within.join(F.broadcast(offsets), [RID, AID, "bucket"]).select(
        RID,
        AID,
        VALUE,
        *[
            (F.col(f"in_{c}") + F.col(f"off_{c}")).alias(f"le_{c}")
            for c in classes
        ],
        *[F.col(f"tot_{c}") for c in classes],
    )
    return _score_candidates(cum, info_df, classes, min_ratio)


def _score_candidates(
    cum: DataFrame,
    info_df: DataFrame,
    classes: list[str],
    min_ratio: float,
) -> DataFrame:
    """Candidate-boundary entropies + guard + per-(rid, aid) argmin from
    the cumulative class counts (`le_*` vs `tot_*` columns). With a
    per-attribute ``info_df`` (:func:`attribute_info`), the candidates'
    split information gets the unknown branch and the ratio the known
    fraction."""
    keys, unknown, known = _info_keys(info_df)
    if unknown is not None:
        cum = cum.join(F.broadcast(info_df.select(*keys, "unknown")), keys)
    n = sum((F.col(f"tot_{c}") for c in classes), F.lit(0))
    n_le = sum((F.col(f"le_{c}") for c in classes), F.lit(0))
    n_gt = n - n_le
    sum_x_le = sum((xlog2x(F.col(f"le_{c}")) for c in classes), F.lit(0.0))
    sum_x_gt = sum(
        (xlog2x(F.col(f"tot_{c}") - F.col(f"le_{c}")) for c in classes),
        F.lit(0.0),
    )
    ent_le = entropy_from_counts(n_le, sum_x_le)
    ent_gt = entropy_from_counts(n_gt, sum_x_gt)

    # one select + one where (not chained withColumns) — this builder
    # runs once per tree level and DataFrame-op analysis cost adds up
    cand = cum.select(
        RID,
        AID,
        F.col(VALUE),
        n.alias("n"),
        n_le.alias("n_le"),
        n_gt.alias("n_gt"),
        ((n_le * ent_le + n_gt * ent_gt) / n).alias("entr"),
        _split_info_col(n, xlog2x(n_le) + xlog2x(n_gt), unknown).alias(
            "split_info"
        ),
    ).where(
        # all distinct values except the max are candidate boundaries,
        # then the minimum-side guard (minDataRatio, `MyReducer.java:34`)
        (F.col("n_le") < F.col("n"))
        & (F.col("n_le") >= F.lit(min_ratio) * F.col("n"))
        & (F.col("n_gt") >= F.lit(min_ratio) * F.col("n"))
    )

    # argmin entr, ties broken by smallest boundary: lexicographic struct min
    best = cand.groupBy(RID, AID).agg(
        F.min(
            F.struct(F.col("entr"), F.col(VALUE), F.col("split_info"))
        ).alias("best")
    )
    return (
        best.join(F.broadcast(info_df), keys)
        .select(
            RID,
            AID,
            F.col("info"),
            F.col("best.entr").alias("entr"),
            F.col("best.split_info").alias("split_info"),
            F.col(f"best.{VALUE}").alias("boundary"),
            _gain_ratio_col(
                F.col("info"),
                F.col("best.entr"),
                F.col("best.split_info"),
                known,
            ).alias("gain_ratio"),
        )
    )


def leaf_detect(class_counts: DataFrame, info_df: DataFrame) -> DataFrame:
    """Per node: row count, class entropy, purity flag, majority label —
    the reference tags leaves with a `gr == 0` marker plus a (buggy)
    last-seen class (`MyReducer.java:103-104,201-202`, consumed
    `Main.java:250-257`); we report an honest majority with a
    deterministic (cnt desc, class asc) tie-break."""
    w = Window.partitionBy(RID).orderBy(F.desc(CNT), F.asc(CLASS))
    maj = (
        class_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(RID, F.col(CLASS).alias("majority_label"))
    )
    return (
        info_df.join(maj, RID)
        .select(
            RID,
            "n",
            "info",
            (F.col("info") == 0.0).alias("is_leaf"),
            "majority_label",
        )
    )


def best_attribute(
    stats: DataFrame, attr_order: list[str]
) -> DataFrame:
    """Per node, the attribute with maximal gain ratio — the driver-side
    file-rescanning argmax of the reference (`Main.java:218-269`) as a
    window. ``gain_ratio <= 0`` never wins (reference inits maxGR = 0,
    `Main.java:258-261`); ties break on attribute declaration order."""
    idx = F.lit(None).cast("int")
    for i, a in reversed(list(enumerate(attr_order))):
        idx = F.when(F.col(AID) == a, F.lit(i)).otherwise(idx)
    w = Window.partitionBy(RID).orderBy(
        F.desc("gain_ratio"), F.asc("aid_idx")
    )
    return (
        stats.where(F.col("gain_ratio") > 0)
        .withColumn("aid_idx", idx)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "aid_idx")
    )
