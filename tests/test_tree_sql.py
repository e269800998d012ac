"""The tree's train and score expressions are Spark SQL text, rendered by
one literal renderer (``tree._sql_lit``): literals parse back exactly,
categorical values survive backslashes and quotes, wide levels and deep
models stay in whole-stage codegen, and building an expression costs a
fixed number of py4j round trips whatever the bins or the rule count."""

import itertools
import math
from contextlib import contextmanager
from decimal import Decimal

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr
from c4_5decisiontreebasedonmapreduce_spark.operators.training import (
    LINEITEM_TRAINING_SCHEMA,
    lineitem_training,
    wide_training,
    wide_training_schema,
)
from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import (
    CATEGORICAL,
    AttributeSpec,
    TrainingSchema,
)


@contextmanager
def _no_codegen_fallback(spark):
    """Make a whole-stage codegen failure raise instead of silently
    re-running the stage interpreted."""
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_escaped_categorical_values_route_and_score(spark):
    """Values holding a backslash, a quote or a tab must reach their own
    child: unescaped, ``a\\tb`` parsed as a TAB matched no row and its
    rows silently left the tree."""
    values = ["a\\tb", "it's", "c\\'d", "tab\there"]
    schema = TrainingSchema(
        features=(AttributeSpec("x", CATEGORICAL, tuple(values)),),
        label="y",
        label_domain=("p", "q"),
    )
    rows = [(v, "pq"[i % 2]) for i, v in enumerate(values) for _ in range(10)]
    df = spark.createDataFrame(rows, schema.spark_schema())
    model = Tr.train(df, schema, max_depth=3)

    leaves = [r for r in model.rules if r.label is not None]
    assert sum(r.n for r in leaves) == len(rows)
    assert sorted(r.n for r in leaves) == [10] * len(values)

    expected = F.lit(None).cast("string")
    for r in reversed(model.rules):
        expected = F.when(r.predicate(), F.lit(r.label)).otherwise(expected)
    scored = model.transform(df).withColumn("expected", expected)
    assert scored.where(F.col("expected").isNull()).count() == 0
    differ = ~F.col("prediction").eqNullSafe(F.col("expected"))
    assert scored.where(differ).count() == 0
    assert scored.where(F.col("prediction") != F.col("y")).count() == 0


def test_wide_frontier_and_deep_model_stay_in_codegen(spark, sf_small):
    """The wide table's 600-node level (per-condition CASE: over 64 KB)
    and a depth-8 model's trie must compile with codegen fallback off."""
    wide = wide_training(spark, sf_small)
    deep_df = lineitem_training(spark, sf_small)
    deep = Tr.train(deep_df, LINEITEM_TRAINING_SCHEMA, max_depth=8, min_rows=5)
    with _no_codegen_fallback(spark):
        model = Tr.train(wide, wide_training_schema(), max_depth=2)
        scored = deep.transform(deep_df)
        n = scored.where(F.col("prediction").isNotNull()).count()
    assert sum(r.n for r in model.rules if r.label is not None) == wide.count()
    assert n == deep_df.count()


def _snap_reference(values, edges):
    """NumPy snap-up: the smallest edge ≥ v (``searchsorted``, left side,
    NaN sorting last as in Spark); v itself above the top edge."""
    e = np.array(edges, dtype=np.float64)
    out = []
    for v in values:
        if v is None:
            out.append(None)
            continue
        i = int(np.searchsorted(e, float(v), side="left"))
        out.append(float(e[i]) if i < len(e) else float(v))
    return out


def _same_double(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    # bit-exact: -0.0 must stay -0.0
    return np.float64(a).view(np.int64) == np.float64(b).view(np.int64)


def test_snap_numeric_renders_literals_exactly(spark):
    inf, nan = math.inf, math.nan
    d_edges = [-inf, -1.7976931348623157e308, -0.0, 5e-324, 0.1,
               0.30000000000000004, 1 / 3, 2.5, 1e300, inf, nan]
    d_vals = [-inf, -1e308, -0.0, 0.0, 5e-324, 1e-320, 0.1, 0.3,
              0.30000000000000004, 0.31, 1 / 3, 2.5, 7.0, 1e300,
              1.7976931348623157e308, inf, nan, None]
    top_edges = [0.1, 0.30000000000000004]  # values above the top stay
    top_vals = [0.05, 0.3, 0.30000000000000004, 0.4, inf, nan, -0.0, None]
    i_edges = [-1.0, 3.0, 8.0]
    i_vals = [-5, 0, 3, 7, 100, None]
    m_edges = [1.05, 2.5, 3.33]
    m_vals = [Decimal("0.50"), Decimal("1.05"), Decimal("1.06"),
              Decimal("3.33"), Decimal("9.99"), None]
    n = max(map(len, (d_vals, top_vals, i_vals, m_vals)))

    def pad(xs):
        return xs + [None] * (n - len(xs))

    schema = T.StructType([
        T.StructField("d", T.DoubleType()),
        T.StructField("t", T.DoubleType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("m", T.DecimalType(10, 2)),
        T.StructField("k", T.IntegerType()),
    ])
    df = spark.createDataFrame(
        list(zip(pad(d_vals), pad(top_vals), pad(i_vals), pad(m_vals),
                 range(n))),
        schema,
    )
    snapped = Tr._snap_numeric(
        df, {"d": d_edges, "t": top_edges, "i": i_edges, "m": m_edges}
    )
    assert snapped.dtypes == df.dtypes
    got = sorted(snapped.collect(), key=lambda r: r["k"])

    for col, vals, edges in (
        ("d", d_vals, d_edges),
        ("t", top_vals, top_edges),
    ):
        want = _snap_reference(vals, edges)
        have = [r[col] for r in got[: len(vals)]]
        assert all(map(_same_double, have, want)), (col, have, want)
    want_i = [None if v is None else int(v)
              for v in _snap_reference(i_vals, i_edges)]
    assert [r["i"] for r in got[: len(i_vals)]] == want_i
    want_m = [
        None if v is None else Decimal(repr(v)).quantize(Decimal("0.01"))
        for v in _snap_reference(m_vals, m_edges)
    ]
    assert [r["m"] for r in got[: len(m_vals)]] == want_m


def test_prologue_edges_match_lit_list_percentiles(spark):
    """The rendered probabilities array asks percentile_approx for the
    same quantiles as the ``F.lit(list)`` argument it replaced."""
    rng = np.random.default_rng(7)
    rows = [
        (
            float(rng.normal()) * 1e3 + 0.30000000000000004,
            int(rng.integers(-50, 50)),
            Decimal(f"{rng.integers(0, 10_000) / 100:.2f}"),
            "pq"[i % 2],
        )
        for i in range(2_000)
    ] + [(-0.0, 0, Decimal("0.00"), "p"), (math.inf, 0, Decimal("0.00"), "q")]
    schema = T.StructType([
        T.StructField("d", T.DoubleType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("m", T.DecimalType(10, 2)),
        T.StructField("y", T.StringType()),
    ])
    base = spark.createDataFrame(rows, schema)
    num = ["d", "i", "m"]
    for max_bins in (16, 256):
        _, edges, _ = Tr._prologue_scan(
            base, nulls="reject", cat_names=[], num_names=num, label="y",
            cat_domains={}, max_bins=max_bins,
        )
        probs = sorted({i / max_bins for i in range(max_bins + 1)} | {0.5})
        old = base.agg(
            *[F.percentile_approx(c, F.lit(probs), F.lit(10_000)).alias(c)
              for c in num]
        ).first()
        assert edges == {c: sorted({float(e) for e in old[c]}) for c in num}


def _full_tree(depth: int) -> Tr.DecisionListModel:
    """A complete binary tree of numeric splits: 2**depth rules."""
    rules = []
    for bits in itertools.product((0, 1), repeat=depth):
        conds = tuple(
            Tr.Condition(f"x{i}", Tr.OP_GT if b else Tr.OP_LE, i + 0.5)
            for i, b in enumerate(bits)
        )
        rules.append(Tr.Rule(conds, "pq"[sum(bits) % 2], 1, depth))
    return Tr.DecisionListModel(rules=rules)


def test_prediction_column_gateway_calls_fixed(spark, py4j_calls):
    small, large = _full_tree(2), _full_tree(6)
    assert (len(small.rules), len(large.rules)) == (4, 64)
    small.prediction_column()  # first-use lookups out of the count
    assert py4j_calls(small.prediction_column) == py4j_calls(
        large.prediction_column
    )


def test_snap_numeric_gateway_calls_fixed(spark, py4j_calls):
    def fresh():
        return spark.range(10).select(F.col("id").cast("double").alias("x"))

    def edges(max_bins):
        return [i / max_bins for i in range(max_bins + 1)]

    Tr._snap_numeric(fresh(), {"x": edges(4)})
    df16, df256 = fresh(), fresh()
    assert py4j_calls(
        lambda: Tr._snap_numeric(df16, {"x": edges(16)})
    ) == py4j_calls(lambda: Tr._snap_numeric(df256, {"x": edges(256)}))
