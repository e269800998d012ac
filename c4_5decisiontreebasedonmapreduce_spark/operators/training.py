"""Flagship training table: C4.5 features projected from `lineitem`.

FIXTURES.md §2: numeric features ``l_quantity, l_extendedprice,
l_discount, l_tax``; categorical ``l_linestatus`` (domain O/F); label
``l_returnflag`` (domain R/A/N). This replaces the reference's
TSV + attributes-side-file pair (`/root/reference/src/program/Main.java:137-166`)
with a parquet projection plus a declared :class:`TrainingSchema`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from c4_5decisiontreebasedonmapreduce_spark.sources.parquet import load_table
from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import (
    CATEGORICAL,
    NUMERIC,
    AttributeSpec,
    TrainingSchema,
)

LINEITEM_TRAINING_SCHEMA = TrainingSchema(
    features=(
        AttributeSpec("l_quantity", NUMERIC),
        AttributeSpec("l_extendedprice", NUMERIC),
        AttributeSpec("l_discount", NUMERIC),
        AttributeSpec("l_tax", NUMERIC),
        AttributeSpec("l_linestatus", CATEGORICAL, ("O", "F")),
    ),
    label="l_returnflag",
    label_domain=("R", "A", "N"),
)


def lineitem_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = LINEITEM_TRAINING_SCHEMA
    cols = [a.name for a in s.features] + [s.label]
    return load_table(spark, sf_dir, "lineitem").select(*cols)


WIDE_N_NUMERIC = 32
WIDE_CAT_DOMAIN = 600


def wide_training_schema(
    n_numeric: int = WIDE_N_NUMERIC, cat_domain: int = WIDE_CAT_DOMAIN
) -> TrainingSchema:
    """Schema of the wide stress table (:func:`wide_training`)."""
    feats = [
        AttributeSpec(
            "w_cat",
            CATEGORICAL,
            tuple(f"g{i:03d}" for i in range(cat_domain)),
        )
    ]
    feats += [
        AttributeSpec(f"w_n{i:02d}", NUMERIC) for i in range(n_numeric)
    ]
    return TrainingSchema(
        features=tuple(feats), label="w_cls", label_domain=("neg", "pos")
    )


def wide_training(
    spark: SparkSession,
    sf_dir: str,
    n_numeric: int = WIDE_N_NUMERIC,
    cat_domain: int = WIDE_CAT_DOMAIN,
) -> DataFrame:
    """Wide-schema stress table: ONE high-cardinality categorical
    (``cat_domain`` groups) + ``n_numeric`` noise numerics, all derived
    deterministically from lineitem's natural key via ``xxhash64`` so
    every run (and every execution path) sees the identical table.

    Purpose (VERDICT r7 item 4): the label is group-determined with 30%
    deterministic flip noise, so the root split is the 600-way
    categorical and the depth-1 frontier is ``cat_domain`` nodes — which
    pushes the declared contingency estimate
    ``|frontier| × classes × (1 + Σ|domains| + Σ|edges|)`` past
    ``tree._DRIVER_STATS_MAX_ROWS`` (600 × ~17.6k ≈ 10.6M > 4M with
    default ``max_bins``). The driver guard is the smaller of that
    estimate and the rows alive × (1 + |features|) = rows × 34, so the
    depth-1 level flips onto the fully distributed per-level reduction
    with no test override once the table holds more than ~118k rows
    (sf0.1), and stays on the driver below that (sf0.001, sf0.01). The
    noise numerics keep the depth-1 nodes impure so the argmax does
    real work."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import functions as F

    key = F.concat_ws(
        "|", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    g = F.pmod(F.xxhash64(F.lit("wg"), key), F.lit(cat_domain))
    noise = F.pmod(F.xxhash64(F.lit("wl"), key), F.lit(10)) < 3
    base = (g % 2) == 0
    cols = [
        F.format_string("g%03d", g).alias("w_cat"),
        *[
            (
                F.pmod(F.xxhash64(F.lit(f"wn{i}"), key), F.lit(10000))
                / F.lit(100.0)
            ).alias(f"w_n{i:02d}")
            for i in range(n_numeric)
        ],
        F.when(base != noise, F.lit("pos")).otherwise(F.lit("neg"))
        .alias("w_cls"),
    ]
    return li.select(*cols)


HOLDOUT_MOD = 5  # 1/5 of rows held out (~20%)


def lineitem_holdout_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (train, holdout) split of the training table.

    The split is a pure function of each row's natural key
    ``(l_orderkey, l_linenumber)`` through the engine-portable MD5 hash
    — the same contract as `sampling.sample_stratified`: re-runs,
    repartitioning, and backfills reproduce the identical split, with
    no shuffle, no global count, and no persisted split column. The
    reference has no evaluation path at all (no prediction, SURVEY
    §2.D); this supplies the holdout harness a real training pipeline
    needs."""
    from pyspark.sql import functions as F

    from c4_5decisiontreebasedonmapreduce_spark.functions.hashing import (
        md5_long,
    )

    s = LINEITEM_TRAINING_SCHEMA
    cols = [a.name for a in s.features] + [s.label]
    li = load_table(spark, sf_dir, "lineitem")
    key = md5_long(
        F.concat_ws(
            "|",
            F.lit("split"),
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    )
    holdout = (key % HOLDOUT_MOD) == 0
    return (
        li.where(~holdout).select(*cols),
        li.where(holdout).select(*cols),
    )
