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


def _quantile_edges(values, max_bins):
    """NumPy's ``inverted_cdf`` quantiles at j/max_bins (j = 0..max_bins),
    distinct and sorted."""
    qs = np.quantile(
        np.array(values, dtype=np.float64),
        np.arange(max_bins + 1) / max_bins,
        method="inverted_cdf",
    )
    return sorted(set(qs.tolist()))


def _prologue_edges(base, num, max_bins, **kw):
    _, edges, _ = Tr._prologue_scan(
        base, nulls="reject", cat_names=[], num_names=num, label="y",
        cat_domains={}, max_bins=max_bins, **kw,
    )
    return edges


@contextmanager
def _bucket_bits(monkeypatch):
    """Record the roundings the prologue keys values by."""
    seen = set()
    real = Tr._bucket_sql

    def spy(x, bits=9):
        seen.add(bits)
        return real(x, bits)

    monkeypatch.setattr(Tr, "_bucket_sql", spy)
    yield seen
    monkeypatch.setattr(Tr, "_bucket_sql", real)


def test_prologue_edges_match_lit_list_percentiles(spark, monkeypatch):
    """The prologue's split candidates are the exact quantiles
    j/max_bins of each column — NumPy's ``inverted_cdf`` over the same
    rows — both when its first histogram holds every distinct value and
    when ``max_rows`` forces the bucketed histogram and its refinement.
    A hand-worked case pins the rank rule on ties at the 9-bit buckets'
    rounding midpoints. (The name is from when this pinned
    ``percentile_approx`` called through ``F.lit(list)``.)"""
    schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("m", T.DecimalType(10, 2)),
        T.StructField("y", T.StringType()),
    ])
    # 513, 515, 257.50, 258.50 and 1998 lie halfway between two 9-bit
    # values; 1992/1993 and 1995/1996 share a 9-bit bucket
    hand = spark.createDataFrame(
        [
            (1998, Decimal("257.50"), "p"),
            (513, Decimal("258.50"), "q"),
            (1995, Decimal("257.50"), "p"),
            (513, Decimal("256.25"), "q"),
            (1992, Decimal("259.50"), "p"),
            (515, Decimal("300.00"), "q"),
            (1996, Decimal("257.50"), "p"),
            (1993, Decimal("258.50"), "q"),
        ],
        schema,
    )
    # 8 values, 4 bins: ranks ⌈8j/4⌉ = 1, 2, 4, 6, 8 (1 for j = 0) of
    # i: 513 513 515 1992 1993 1995 1996 1998
    # m: 256.25 257.50 257.50 257.50 258.50 258.50 259.50 300.00
    want = {"i": [513.0, 1992.0, 1995.0, 1998.0],
            "m": [256.25, 257.5, 258.5, 300.0]}
    # 13 distinct values, 9 buckets: max_rows=10 takes the bucketed path
    for max_rows in (Tr._PROLOGUE_MAX_ROWS, 10):
        assert _prologue_edges(hand, ["i", "m"], 4, max_rows=max_rows) == want

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
        want = {
            c: _quantile_edges([float(r[j]) for r in rows], max_bins)
            for j, c in enumerate(num)
        }
        assert _prologue_edges(base, num, max_bins) == want
        assert all(len(v) <= max_bins + 1 for v in want.values())
        # 3,901 distinct values, 2,271 buckets of 9 bits
        with _bucket_bits(monkeypatch) as bits:
            assert _prologue_edges(base, num, max_bins, max_rows=3_000) == want
        assert bits == {9}


def test_prologue_keeps_every_year_and_refines_crowded_columns(
    spark, monkeypatch
):
    """Values far from zero keep full resolution: each of seven years is
    a candidate (9-bit buckets lump 1992-1994 and 1995-1997 together),
    and the quantiles of epoch seconds spread over one year — a handful
    of 9-bit buckets — are exact also when ``max_rows`` makes the
    prologue refine those buckets at finer roundings."""
    years = list(range(1992, 1999))
    counts = [50, 80, 120, 60, 90, 70, 30]
    rng = np.random.default_rng(3)
    stamps = (1.7e9 + rng.integers(0, 365 * 86_400, size=500)).tolist()
    rows = [
        (y, stamps[k % len(stamps)], "pq"[k % 2])
        for k, y in enumerate(
            y for y, n in zip(years, counts) for _ in range(n)
        )
    ]
    schema = T.StructType([
        T.StructField("year", T.IntegerType()),
        T.StructField("ts", T.DoubleType()),
        T.StructField("y", T.StringType()),
    ])
    base = spark.createDataFrame(rows, schema)
    edges = _prologue_edges(base, ["year", "ts"], 256)
    assert edges["year"] == [float(y) for y in years]
    want = {
        c: _quantile_edges([r[j] for r in rows], 16)
        for j, c in enumerate(["year", "ts"])
    }
    assert len(want["ts"]) == 17
    for max_rows in (Tr._PROLOGUE_MAX_ROWS, 64):
        with _bucket_bits(monkeypatch) as bits:
            got = _prologue_edges(base, ["year", "ts"], 16, max_rows=max_rows)
        assert got == want
    # 9-bit buckets first, then finer ones
    assert min(bits) == 9 and max(bits) > 9


def test_model_json_is_layout_invariant(spark, sf_small):
    """The same rows train the byte-identical model whatever their
    partitioning or order: the split candidates are a function of each
    column's values alone."""
    df = lineitem_training(spark, sf_small)

    def model_json(layout):
        return Tr.train(
            layout, LINEITEM_TRAINING_SCHEMA, max_depth=4, min_rows=10
        ).to_json()

    want = model_json(df.coalesce(1))
    for layout in (
        df.repartition(3),
        df.repartition(7),
        df.orderBy(F.rand(11)).repartition(5),
    ):
        assert model_json(layout) == want


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
