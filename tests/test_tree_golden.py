"""Golden end-to-end tree test (SURVEY.md §5.2): the canonical 14-row
weather/play-golf dataset in the reference's native format. The C4.5
answer is hand-computable: root = outlook (max gain ratio), sunny branch
splits on humidity, rainy branch on windy, overcast is a pure 'yes' leaf.
"""

import pytest
from pyspark.sql import functions as F

from c4_5decisiontreebasedonmapreduce_spark.operators import c45_stats as S
from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr
from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import (
    parse_attributes_lines,
    read_training_tsv,
)

ATTR_LINES = [
    "outlook:string:sunny,overcast,rainy",
    "temperature:numeric",
    "humidity:numeric",
    "windy:string:true,false",
    "play:yes,no",
]

ROWS = [
    ("sunny", 85.0, 85.0, "false", "no"),
    ("sunny", 80.0, 90.0, "true", "no"),
    ("overcast", 83.0, 86.0, "false", "yes"),
    ("rainy", 70.0, 96.0, "false", "yes"),
    ("rainy", 68.0, 80.0, "false", "yes"),
    ("rainy", 65.0, 70.0, "true", "no"),
    ("overcast", 64.0, 65.0, "true", "yes"),
    ("sunny", 72.0, 95.0, "false", "no"),
    ("sunny", 69.0, 70.0, "false", "yes"),
    ("rainy", 75.0, 80.0, "false", "yes"),
    ("sunny", 75.0, 70.0, "true", "yes"),
    ("overcast", 72.0, 90.0, "true", "yes"),
    ("overcast", 81.0, 75.0, "false", "yes"),
    ("rainy", 71.0, 91.0, "true", "no"),
]


@pytest.fixture(scope="module")
def schema():
    return parse_attributes_lines(ATTR_LINES)


@pytest.fixture(scope="module")
def weather(spark, schema):
    return spark.createDataFrame(ROWS, schema.spark_schema())


def test_attributes_file_roundtrip(tmp_path, spark, schema):
    att = tmp_path / "weather.att"
    att.write_text("\n".join(ATTR_LINES))
    tsv = tmp_path / "weather.tsv"
    tsv.write_text(
        "\n".join("\t".join(str(v) for v in row) for row in ROWS)
    )
    from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import (
        parse_attributes_file,
    )

    s2 = parse_attributes_file(att)
    assert s2 == schema
    df = read_training_tsv(spark, str(tsv), s2)
    assert df.count() == 14
    assert dict(df.dtypes)["temperature"] == "double"


def test_root_statistics(spark, weather, schema):
    """Hand-computed values from the classic C4.5 worked example."""
    lv = weather.withColumn(S.RID, F.lit(0))
    info = S.node_info(S.node_class_counts(lv, "play"))
    n, i = info.collect()[0]["n"], info.collect()[0]["info"]
    assert n == 14
    assert abs(i - 0.940286) < 1e-5

    cat = S.categorical_stats(
        S.contingency(S.melt(lv, ["outlook", "windy"], "play")), info
    ).collect()
    by_aid = {r["aid"]: r for r in cat}
    assert abs(by_aid["outlook"]["entr"] - 0.693536) < 1e-5
    assert abs(by_aid["outlook"]["split_info"] - 1.577406) < 1e-5
    assert abs(by_aid["outlook"]["gain_ratio"] - 0.156428) < 1e-5
    assert abs(by_aid["windy"]["gain_ratio"] - 0.048849) < 1e-5

    num = S.numeric_best_split(
        S.contingency(
            S.melt(lv, ["temperature", "humidity"], "play", numeric=True)
        ),
        info,
        ["yes", "no"],
        0.1,
    ).collect()
    by_aid = {r["aid"]: r for r in num}
    assert by_aid["humidity"]["boundary"] == 80.0
    # outlook must win the root argmax
    stats = spark.createDataFrame(
        [(r["rid"], r["aid"], r["gain_ratio"]) for r in cat + num],
        "rid int, aid string, gain_ratio double",
    )
    best = S.best_attribute(
        stats, ["outlook", "temperature", "humidity", "windy"]
    ).collect()
    assert best[0]["aid"] == "outlook"


def test_golden_tree(spark, weather, schema):
    model = Tr.train(weather, schema, max_depth=5)
    paths = {
        tuple((c.attr, c.op, str(c.value)) for c in r.conditions): r.label
        for r in model.rules
    }
    assert paths[(("outlook", "==", "overcast"),)] == "yes"
    assert (
        paths[(("outlook", "==", "sunny"), ("humidity", "<=", "70.0"))]
        == "yes"
    )
    assert (
        paths[(("outlook", "==", "sunny"), ("humidity", ">", "70.0"))] == "no"
    )
    assert (
        paths[(("outlook", "==", "rainy"), ("windy", "==", "true"))] == "no"
    )
    assert (
        paths[(("outlook", "==", "rainy"), ("windy", "==", "false"))] == "yes"
    )
    assert Tr.accuracy(model, weather, "play") == 1.0


def test_predict_partition_invariant(spark, weather, schema):
    """Leaves partition the space: every row gets exactly one prediction."""
    model = Tr.train(weather, schema, max_depth=5)
    pred = model.transform(weather)
    assert pred.where(F.col("prediction").isNull()).count() == 0
    # matching-rule count per row is exactly 1
    match_count = sum(
        (F.when(r.predicate(), 1).otherwise(0) for r in model.rules),
        F.lit(0),
    )
    counts = (
        weather.withColumn("m", match_count).groupBy("m").count().collect()
    )
    assert [(r["m"], r["count"]) for r in counts] == [(1, 14)]


def test_model_save_load_roundtrip(tmp_path, spark, schema, weather):
    model = Tr.train(weather, schema, max_depth=4)
    p = str(tmp_path / "model.json")
    model.save(p)
    loaded = Tr.DecisionListModel.load(p)
    assert loaded.to_json() == model.to_json()
    a = model.transform(weather).select("outlook", "temperature", "humidity",
                                        "windy", "prediction").collect()
    b = loaded.transform(weather).select("outlook", "temperature", "humidity",
                                         "windy", "prediction").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_model_parquet_sink_roundtrip(tmp_path, spark, schema, weather):
    """VERDICT r6 item 6: the model artifact through the engine's own
    columnar sink — to_df → parquet → load_parquet must reconstruct the
    decision list exactly (rule order via rule_id, numeric half-space
    values re-typed from their string encoding) and predict
    identically."""
    model = Tr.train(weather, schema, max_depth=4)
    p = str(tmp_path / "model_parquet")
    model.save_parquet(spark, p)
    loaded = Tr.DecisionListModel.load_parquet(spark, p)
    assert [
        (r.conditions, r.label, r.n, r.depth) for r in loaded.rules
    ] == [(r.conditions, r.label, r.n, r.depth) for r in model.rules]
    assert loaded.to_json() == model.to_json()
    cols = ["outlook", "temperature", "humidity", "windy", "prediction"]
    a = model.transform(weather).select(*cols).collect()
    b = loaded.transform(weather).select(*cols).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def _sink_schema(n_type):
    """The model relation's schema as the row-tuple ``to_df`` wrote it."""
    from pyspark.sql import types as T

    cond = T.StructType(
        [T.StructField(f, T.StringType()) for f in ("attr", "op", "value")]
    )
    return T.StructType(
        [
            T.StructField("rule_id", T.IntegerType()),
            T.StructField("conditions", T.ArrayType(cond)),
            T.StructField("label", T.StringType()),
            T.StructField("n", n_type),
            T.StructField("depth", T.IntegerType()),
        ]
    )


def test_model_parquet_sink_schema(tmp_path, spark):
    """The Arrow-built model relation keeps the schema the row-built one
    had, in the frame and in the written file: ``n`` BIGINT for row
    counts, DOUBLE once a mass is fractional, and a condition-less
    root-leaf rule as an empty array."""
    from pyspark.sql import types as T

    eq, le = Tr.Condition("a", Tr.OP_EQ, "x'y"), Tr.Condition("v", Tr.OP_LE, 2.5)
    cases = {
        "bigint": ([Tr.Rule((eq,), "P", 7, 1), Tr.Rule((le,), "N", 3, 1)],
                   T.LongType()),
        "double": ([Tr.Rule((eq, le), "P", 2.75, 2), Tr.Rule((eq,), "N", 4, 1)],
                   T.DoubleType()),
        "root_leaf": ([Tr.Rule((), "yes", 14, 0)], T.LongType()),
    }
    for name, (rules, n_type) in cases.items():
        model = Tr.DecisionListModel(rules=rules)
        assert model.to_df(spark).schema == _sink_schema(n_type), name
        p = str(tmp_path / name)
        model.save_parquet(spark, p)
        assert spark.read.parquet(p).schema == _sink_schema(n_type), name
        back = Tr.DecisionListModel.load_parquet(spark, p)
        assert back.rules == rules, name
        assert [type(r.n) for r in back.rules] == [
            type(r.n if n_type == T.LongType() else float(r.n)) for r in rules
        ], name


def test_trie_prediction_equals_flat_chain(spark, schema, weather):
    """The trie compile must agree with the naive rule-by-rule chain."""
    from pyspark.sql import functions as F

    model = Tr.train(weather, schema, max_depth=4)
    flat = F.lit(None).cast("string")
    for r in reversed(model.rules):
        flat = F.when(r.predicate(), F.lit(r.label)).otherwise(flat)
    both = weather.withColumn("trie", model.prediction_column()).withColumn(
        "flat", flat
    )
    assert both.where(~F.col("trie").eqNullSafe(F.col("flat"))).count() == 0


def test_deep_model_transform_no_codegen_overflow(spark, sf_small):
    """A depth-8 model (hundreds of rules) must still compile: the trie
    expression is O(tree nodes), unlike a flat rule chain."""
    from c4_5decisiontreebasedonmapreduce_spark.operators.training import (
        LINEITEM_TRAINING_SCHEMA,
        lineitem_training,
    )

    df = lineitem_training(spark, sf_small)
    model = Tr.train(df, LINEITEM_TRAINING_SCHEMA, max_depth=8, min_rows=5)
    pred = model.transform(df)
    n = pred.where(pred["prediction"].isNotNull()).count()
    assert n == df.count()


def test_unseen_categorical_predicts_majority(spark):
    """A row whose categorical value is outside the training domain must
    fall back to the training-majority label instead of NULL (the
    reference crashes/drops such rows — quirk Q5)."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr

    model = Tr.DecisionListModel(
        rules=[
            Tr.Rule((Tr.Condition("color", Tr.OP_EQ, "red"),), "R", 70, 1),
            Tr.Rule((Tr.Condition("color", Tr.OP_EQ, "blue"),), "B", 30, 1),
        ]
    )
    assert model.majority_label == "R"
    df = spark.createDataFrame(
        [("red",), ("blue",), ("chartreuse",)], "color string"
    )
    got = {
        r["color"]: r["prediction"] for r in model.transform(df).collect()
    }
    assert got == {"red": "R", "blue": "B", "chartreuse": "R"}


def test_tsv_tab_runs_collapse_like_reference(tmp_path, spark, schema):
    """The reference splits rows on RUNS of tabs (`String.split("\\t+")`,
    `MyMapper.java:30`): a doubled tab collapses and fields shift left.
    The reader must reproduce that — not emit a null column the way a
    single-tab csv parse would."""
    tsv = tmp_path / "malformed.tsv"
    tsv.write_text(
        "sunny\t\t85.0\t85.0\tfalse\tno\n"  # doubled tab after field 1
        "rainy\t70.0\t96.0\tfalse\tyes\n"  # well-formed control row
    )
    rows = {
        r["outlook"]: r
        for r in read_training_tsv(spark, str(tsv), schema).collect()
    }
    bad, good = rows["sunny"], rows["rainy"]
    assert (bad["temperature"], bad["humidity"], bad["windy"], bad["play"]) \
        == (85.0, 85.0, "false", "no")
    assert (good["temperature"], good["humidity"], good["play"]) \
        == (70.0, 96.0, "yes")


def _rule_tuples(model):
    return [
        (
            tuple((c.attr, c.op, str(c.value)) for c in r.conditions),
            r.label,
            r.n,
            r.depth,
        )
        for r in model.rules
    ]


def test_driver_stats_path_equals_distributed(spark, weather, schema):
    """The size-guarded driver-side stats path (collect the bounded
    contingency, reduce in numpy) must produce the exact same model as
    the fully distributed reduction it replaces — same splits, same
    boundaries, same leaf labels and counts."""
    fast = Tr.train(weather, schema, max_depth=5)  # driver path (tiny)
    dist = Tr.train(
        weather, schema, max_depth=5, driver_stats_max_rows=0
    )  # forced distributed
    assert _rule_tuples(fast) == _rule_tuples(dist)


def test_driver_stats_path_equals_distributed_lineitem(spark, sf_small):
    """Same equivalence on real parquet with mixed cat/num attributes."""
    from c4_5decisiontreebasedonmapreduce_spark.registry import (
        LINEITEM_TRAINING_SCHEMA,
        lineitem_training,
    )

    df = lineitem_training(spark, sf_small)
    fast = Tr.train(df, LINEITEM_TRAINING_SCHEMA, max_depth=3, min_rows=50)
    dist = Tr.train(
        df,
        LINEITEM_TRAINING_SCHEMA,
        max_depth=3,
        min_rows=50,
        driver_stats_max_rows=0,
    )
    assert _rule_tuples(fast) == _rule_tuples(dist)


def test_model_cache_keyed_by_application(spark, sf_small):
    """_MODEL_CACHE entries from another Spark application are evicted on
    insert: a stale model can never grade after the data under a path
    changes across sessions (VERDICT r4 nit #2)."""
    from c4_5decisiontreebasedonmapreduce_spark import registry

    registry._MODEL_CACHE.clear()  # force a fresh insert (the dead-app
    # sweep runs on insert; a suite-order cache hit would skip it)
    stale_key = ("app-from-a-previous-life", sf_small)
    registry._MODEL_CACHE[stale_key] = "stale-sentinel"
    model = registry._train_model(spark, sf_small)
    assert stale_key not in registry._MODEL_CACHE
    app_id = spark.sparkContext.applicationId
    assert registry._MODEL_CACHE[(app_id, sf_small)] is model


def test_driver_stats_path_out_of_domain_labels(spark, schema):
    """Rows whose label falls outside the declared domain: the
    distributed numeric path drops them at the pivot while the
    categorical path aggregates every class present. The driver-side
    mirror must reproduce both behaviors, not crash."""
    rows = ROWS + [
        ("sunny", 77.0, 88.0, "false", "maybe"),
        ("rainy", 66.0, 77.0, "true", "maybe"),
    ]
    df = spark.createDataFrame(rows, schema.spark_schema())
    fast = Tr.train(df, schema, max_depth=3)
    dist = Tr.train(df, schema, max_depth=3, driver_stats_max_rows=0)
    assert _rule_tuples(fast) == _rule_tuples(dist)


def test_reference_wire_format_preserves_predictions(spark, schema, weather):
    """End-to-end serde parity on the golden model: render the trained
    weather tree in the reference's exact wire format (`Rule.java:22-33`,
    attribute ids in attributes-file order), parse it back, and the
    reconstructed model must predict identically on every row."""
    model = Tr.train(weather, schema, max_depth=5)
    order = [a.name for a in schema.features]
    lines = model.to_reference_text(order)
    assert lines and all(":" in ln for ln in lines)
    back = Tr.DecisionListModel.from_reference_text(lines, order)
    cols = order + ["play", "prediction"]
    a = sorted(map(tuple, model.transform(weather).select(cols).collect()))
    b = sorted(map(tuple, back.transform(weather).select(cols).collect()))
    assert a == b


def test_model_sql_export_matches_transform(tmp_path, spark, schema, weather, sf_small):
    """The model's SQL CASE export (r7): DuckDB executing the generated
    expression over the same data must predict row-for-row what Spark's
    transform does — the deploy-anywhere story, verified cross-engine on
    both the weather golden model and the lineitem model."""
    import duckdb

    # weather model over its 14-row table
    m = Tr.train(weather, schema, max_depth=4)
    case = m.to_sql_case()
    pdf = weather.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    got = [r[0] for r in con.execute(f"SELECT {case} FROM t").fetchall()]
    want = [
        r["prediction"]
        for r in m.transform(weather).collect()
    ]
    assert got == want and len(got) == 14

    # lineitem model straight over the parquet file
    from c4_5decisiontreebasedonmapreduce_spark.operators.training import (
        LINEITEM_TRAINING_SCHEMA,
        lineitem_training,
    )

    df = lineitem_training(spark, sf_small)
    lm = Tr.train(df, LINEITEM_TRAINING_SCHEMA, max_depth=3, min_rows=50)
    lcase = lm.to_sql_case()
    con2 = duckdb.connect()
    # DuckDB reads the raw parquet; recreate the training projection
    con2.execute(
        "CREATE VIEW t AS SELECT l_quantity, l_extendedprice, l_discount,"
        " l_tax, l_linestatus,"
        " CASE WHEN l_returnflag IS NULL THEN 'N' ELSE l_returnflag END"
        "   AS label"
        f" FROM read_parquet('{sf_small}/lineitem.parquet')"
    )
    counts_sql = dict(
        con2.execute(
            f"SELECT {lcase} AS p, COUNT(*) FROM t GROUP BY 1"
        ).fetchall()
    )
    counts_spark = {
        r["prediction"]: r["n"]
        for r in lm.transform(df)
        .groupBy("prediction")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts_sql == counts_spark
