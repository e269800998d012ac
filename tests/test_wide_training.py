"""Wide-schema training stress (VERDICT r7 item 4): the declared
contingency estimate of the 600-node depth-1 frontier exceeds
``_DRIVER_STATS_MAX_ROWS`` by the shipped bound, but the driver path is
bounded by the rows still alive as well, so at small scale every level
stays on the driver. A bound between the root's and depth 1's moves
depth 1 onto the fully distributed reduction, and neither path may
change the model."""

import json

from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr
from c4_5decisiontreebasedonmapreduce_spark.operators.training import (
    WIDE_CAT_DOMAIN,
    WIDE_N_NUMERIC,
    wide_training,
    wide_training_schema,
)


def _model_key(m):
    return sorted(
        json.dumps([[c.attr, c.op, str(c.value)] for c in r.conditions])
        + f"|{r.label}|{r.n}"
        for r in m.rules
    )


def test_wide_schema_estimate_exceeds_default_bound():
    """The declared part of the guard: one 600-way categorical split
    makes the depth-1 frontier's declared estimate blow the 4M default
    while the root level stays under it. Below the root the guard is
    the smaller of this estimate and rows alive × (1 + |features|), so
    depth 1 switches to the distributed reduction only past ~118k rows
    (the wide table at sf0.1), not at sf0.001 or sf0.01."""
    schema = wide_training_schema()
    # the estimate tree.train computes: classes × (1 + Σ|domains| + Σ|edges|)
    # with |edges| ≤ max_bins+1 per numeric attribute
    per_node = len(schema.label_domain) * (
        1 + WIDE_CAT_DOMAIN + WIDE_N_NUMERIC * 257
    )
    assert 1 * per_node <= Tr._DRIVER_STATS_MAX_ROWS  # root: driver path
    assert WIDE_CAT_DOMAIN * per_node > Tr._DRIVER_STATS_MAX_ROWS  # depth 1


def test_wide_training_switches_paths_and_models_agree(
    spark, sf_small, monkeypatch
):
    """Default train on the wide table runs driver-side stats on both
    stats levels at sf0.001: depth 1's declared estimate is past the
    bound, but its ~6k rows alive × 34 are not. A bound between the
    root's estimate and depth 1's rows-alive bound sends depth 1 to the
    distributed reduction. Both runs produce the exact model the forced
    driver path produces."""
    schema = wide_training_schema()
    df = wide_training(spark, sf_small)

    orig_driver, orig_rels = Tr._driver_level_stats, Tr._level_rels

    def train_paths(**kw):
        paths = []

        def spy_driver(*a, **k):
            paths.append("driver")
            return orig_driver(*a, **k)

        def spy_rels(*a, **k):
            paths.append("hist" if k.get("hist_only") else "distributed")
            return orig_rels(*a, **k)

        monkeypatch.setattr(Tr, "_driver_level_stats", spy_driver)
        monkeypatch.setattr(Tr, "_level_rels", spy_rels)
        model = Tr.train(df, schema, max_depth=2, **kw)
        monkeypatch.undo()
        return paths, model

    paths, default = train_paths()
    assert paths == ["driver", "driver", "hist"]
    assert len(default.rules) > WIDE_CAT_DOMAIN  # depth-1 nodes really split

    # the root's declared estimate (|edges| ≤ max_bins + 1) and depth 1's
    # rows-alive bound: every row reaches a depth-1 node
    root = len(schema.label_domain) * (1 + WIDE_CAT_DOMAIN + WIDE_N_NUMERIC * 257)
    depth1 = df.count() * (1 + len(schema.features))
    assert root < depth1 - 1
    paths, split = train_paths(driver_stats_max_rows=depth1 - 1)
    assert paths == ["driver", "distributed", "hist"]

    forced_driver = Tr.train(
        df, schema, max_depth=2, driver_stats_max_rows=10**9
    )
    assert _model_key(default) == _model_key(split) == _model_key(forced_driver)
