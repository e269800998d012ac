"""Hypothesis property tests for the pure-Python model layer (no Spark):
serialization round-trips, majority-label determinism, and trie compile
structure. These run in milliseconds and pin the invariants the Spark
paths rely on."""

from hypothesis import given, settings
from hypothesis import strategies as st

from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr

attrs = st.sampled_from(["a", "b", "c", "d"])
cat_values = st.sampled_from(["x", "y", "z"])
num_values = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
conditions = st.one_of(
    st.builds(Tr.Condition, attrs, st.just(Tr.OP_EQ), cat_values),
    st.builds(Tr.Condition, attrs, st.just(Tr.OP_LE), num_values),
    st.builds(Tr.Condition, attrs, st.just(Tr.OP_GT), num_values),
)
rules = st.builds(
    Tr.Rule,
    st.tuples(conditions, conditions).map(tuple)
    | st.tuples(conditions).map(tuple),
    st.sampled_from(["R", "A", "N"]),
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=0, max_value=16),
)
models = st.builds(
    Tr.DecisionListModel, st.lists(rules, min_size=1, max_size=20)
)


@settings(max_examples=200, deadline=None)
@given(models)
def test_model_json_roundtrip(model):
    back = Tr.DecisionListModel.from_json(model.to_json())
    assert back.to_json() == model.to_json()
    assert [r.conditions for r in back.rules] == [
        r.conditions for r in model.rules
    ]


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["R", "A", "N"]),
        st.integers(min_value=1, max_value=1000),
        min_size=1,
    )
)
def test_majority_is_true_mode_with_deterministic_ties(h):
    m = Tr._majority(h, ["R", "A", "N"])
    top = max(h.values())
    assert h[m] == top
    assert m == min(k for k, v in h.items() if v == top)


@settings(max_examples=100, deadline=None)
@given(models)
def test_used_attrs_only_categorical(model):
    for r in model.rules:
        assert r.used_attrs() == {
            c.attr for c in r.conditions if c.op == Tr.OP_EQ
        }


def test_condition_sql_quoting():
    assert Tr.Condition("a", Tr.OP_EQ, "x").sql() == "\"a\" = 'x'"
    assert Tr.Condition("a", Tr.OP_LE, 1.5).sql() == '"a" <= 1.5'


@settings(max_examples=100, deadline=None)
@given(models)
def test_majority_label_is_weighted_mode(model):
    totals = {}
    for r in model.rules:
        totals[r.label] = totals.get(r.label, 0) + r.n
    if any(v > 0 for v in totals.values()) or totals:
        top = max(totals.values())
        assert model.majority_label == min(
            k for k, v in totals.items() if v == top
        )


@given(models)
@settings(max_examples=200, deadline=None)
def test_reference_wire_format_roundtrip(m):
    """to_reference_text renders `Rule.java:22-33`'s exact shape
    (`aid,val&...:label`) and from_reference_text recovers every
    condition and label — including full-precision numeric boundaries
    (the reference's own re-parse truncates the last character,
    quirk Q1, deliberately not replicated)."""
    order = ["a", "b", "c", "d"]
    lines = m.to_reference_text(order)
    assert all(":" in ln for ln in lines)
    back = Tr.DecisionListModel.from_reference_text(lines, order)
    assert len(back.rules) == len(m.rules)
    for orig, rt in zip(m.rules, back.rules):
        assert rt.label == orig.label
        assert len(rt.conditions) == len(orig.conditions)
        for c0, c1 in zip(orig.conditions, rt.conditions):
            assert (c1.attr, c1.op) == (c0.attr, c0.op)
            if c0.op == Tr.OP_EQ:
                assert c1.value == c0.value
            else:
                assert float(c1.value) == float(c0.value)


def test_wire_format_rejects_delimiter_values():
    """ADVICE r6: a condition value or label containing a structural
    delimiter (',', '&', ':'), or an OP_EQ value starting with a
    numeric half-space marker, must raise instead of rendering a line
    that silently mis-parses (the reference shares the constraint but
    never checks it)."""
    import pytest

    order = ["a"]

    def model(cond_value=None, label="R"):
        conds = (
            (Tr.Condition("a", Tr.OP_EQ, cond_value),) if cond_value else ()
        )
        return Tr.DecisionListModel([Tr.Rule(conds, label, 1, 1)])

    for bad in ("x,y", "x&y", "x:y", "<=5", ">cloudy"):
        with pytest.raises(ValueError):
            model(cond_value=bad).to_reference_text(order)
    for bad_label in ("R,S", "R&S", "R:S"):
        with pytest.raises(ValueError):
            model(cond_value="x", label=bad_label).to_reference_text(order)
    # clean values still render and roundtrip
    lines = model(cond_value="x").to_reference_text(order)
    back = Tr.DecisionListModel.from_reference_text(lines, order)
    assert back.rules[0].conditions[0].value == "x"


def test_sql_case_interior_rule_predicts_null():
    """to_sql_case parity detail (review r7): an interior (label-None)
    rule predicts NULL in transform (_trie_sql renders it as NULL),
    so the SQL export must render THEN NULL — not substitute the
    default — while non-matching rows still fall to the ELSE default."""
    import duckdb

    m = Tr.DecisionListModel(
        [
            Tr.Rule((Tr.Condition("a", Tr.OP_EQ, "x"),), None, 0, 1),
            Tr.Rule((Tr.Condition("a", Tr.OP_EQ, "y"),), "R", 5, 1),
        ]
    )
    case = m.to_sql_case(default="R")
    assert "THEN NULL" in case
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {case} FROM (VALUES ('x'), ('y'), ('z')) AS t(a) ORDER BY a"
    ).fetchall()
    assert got == [(None,), ("R",), ("R",)]
