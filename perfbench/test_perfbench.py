"""Tests of the benchmark itself: input determinism, that the output
checks catch a corrupted model or manifest, and the tracer's interval
arithmetic. None of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    return {
        os.path.relpath(os.path.join(d, name), path):
            hashlib.sha256(open(os.path.join(d, name), "rb").read()).hexdigest()
        for d, _, names in os.walk(path)
        for name in names
    }


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_same_shape(tmp_path, workload):
    a = gen.ensure_inputs(str(tmp_path / "a"), workload, 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), workload, 7)
    c = gen.ensure_inputs(str(tmp_path / "c"), workload, 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    if workload == "curate":
        import pyarrow.parquet as pq

        ta = pq.read_table(os.path.join(a, "documents.parquet"))
        tc = pq.read_table(os.path.join(c, "documents.parquet"))
        assert ta.num_rows == tc.num_rows == 2 * gen.CORPUS_BASE_DOCS
        assert ta.column("doc_id").equals(tc.column("doc_id"))
        warm = pq.read_table(os.path.join(a, gen.WARMUP_SUB, "documents.parquet"))
        assert warm.num_rows == 2 * gen.CORPUS_WARMUP_DOCS
    else:
        for sub, rows in (("narrow", gen.NARROW_ROWS), ("wide", gen.WIDE_ROWS)):
            for d in (a, c):
                with open(os.path.join(d, sub, "train.tsv")) as f:
                    widths = [len(line.split("\t")) for line in f]
                assert len(widths) == rows and len(set(widths)) == 1
            assert open(os.path.join(a, sub, "train.attributes")).read() == open(
                os.path.join(c, sub, "train.attributes")
            ).read()


def test_cached_inputs_are_reused_and_keyed_to_the_generator(tmp_path, monkeypatch):
    d = gen.ensure_inputs(str(tmp_path), "curate", 3)
    stamp = os.stat(os.path.join(d, "documents.parquet")).st_mtime_ns
    assert gen.ensure_inputs(str(tmp_path), "curate", 3) == d
    assert os.stat(os.path.join(d, "documents.parquet")).st_mtime_ns == stamp
    # a changed generator gets a directory of its own
    monkeypatch.setattr(gen, "INPUTS_KEY", "changed")
    assert gen.ensure_inputs(str(tmp_path), "curate", 3) != d


def test_salted_copy_matches_the_scale_script():
    rows = gen.corpus_rows(2, n_base=30)
    base, salted = rows[:30], rows[30:]
    assert [r[0] for r in salted] == [gen.STRIDE + r[0] for r in base]
    assert all(s[1] != b[1] for b, s in zip(base, salted))
    assert all(s[1].split(" ")[::4] == b[1].split(" ")[::3] for b, s in zip(base, salted))


@pytest.fixture()
def stump(tmp_path):
    """A small generated table and a correct one-level model of it, as
    ``cli train`` and ``cli predict`` would have left them."""
    gen.narrow_table(str(tmp_path), 5, n_rows=400)
    features, labels = checks.read_tsv(
        str(tmp_path / "train.tsv"), str(tmp_path / "train.attributes")
    )
    rules = []
    for v in ("O", "F"):
        mask = features["linestatus"] == v
        values, counts = np.unique(labels[mask], return_counts=True)
        rules.append({
            "conditions": [{"attr": "linestatus", "op": "==", "value": v}],
            "label": str(values[counts.argmax()]),
            "n": int(mask.sum()),
            "depth": 1,
        })
    (tmp_path / "model").mkdir()
    expected = {"n_rows": len(labels), "depth": 1, "features": features, "labels": labels}
    acc = checks.model_accuracy(rules, features, labels)
    stdout = json.dumps({"rows": len(labels), "accuracy": acc}) + "\n"
    return tmp_path, rules, expected, stdout


def _write_model(out, rules):
    (out / "model" / "model.json").write_text(json.dumps(rules))


def test_train_checks_pass_on_a_correct_model(stump):
    out, rules, expected, stdout = stump
    _write_model(out, rules)
    assert checks.check_train(str(out), expected) == []
    assert checks.check_predict(stdout, str(out), expected) == []


def test_corrupted_leaf_count_is_caught(stump):
    out, rules, expected, _ = stump
    rules[0]["n"] += 1
    _write_model(out, rules)
    assert checks.check_train(str(out), expected)


def test_corrupted_leaf_label_is_caught(stump):
    out, rules, expected, stdout = stump
    rules[0]["label"] = next(x for x in ("R", "A", "N") if x != rules[0]["label"])
    _write_model(out, rules)
    assert checks.check_predict(stdout, str(out), expected)


def test_shallow_tree_is_caught(stump):
    out, rules, expected, _ = stump
    _write_model(out, rules)
    assert checks.check_train(str(out), {**expected, "depth": 2})


def test_first_matching_rule_predicts_and_uncovered_rows_take_majority():
    features = {"x": np.array([1.0, 2.0, 3.0, 4.0])}
    labels = np.array(["a", "b", "b", "b"])
    rules = [
        {"conditions": [{"attr": "x", "op": "<=", "value": 1.5}], "label": "a", "n": 1, "depth": 1},
        {"conditions": [{"attr": "x", "op": ">", "value": 3.5}], "label": "b", "n": 3, "depth": 1},
    ]
    # x = 2 and 3 fall through to the majority label "b"
    assert checks.model_accuracy(rules, features, labels) == 1.0


def test_corrupted_manifest_is_caught(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen.corpus(str(tmp_path), 4, n_base=60)
    expected = checks.oracle_manifest(str(tmp_path / "documents.parquet"))
    assert expected and sum(r[1] for r in expected) > 0
    stdout = json.dumps({"n_docs": sum(r[1] for r in expected)}) + "\n"

    def write(rows):
        (tmp_path / "out" / "manifest").mkdir(parents=True, exist_ok=True)
        cols = {c: [r[i] for r in rows] for i, c in enumerate(checks.MANIFEST_COLUMNS)}
        pq.write_table(pa.table(cols), str(tmp_path / "out" / "manifest" / "part-0.parquet"))

    write(expected)
    assert checks.check_curate(stdout, str(tmp_path / "out"), expected) == []
    bad = [list(r) for r in expected]
    bad[0][2] += 1
    write(bad)
    assert checks.check_curate(stdout, str(tmp_path / "out"), expected)


def test_spark_busy_is_the_union_of_job_intervals_inside_the_span():
    jobs = [
        {"submit": 1.0, "end": 3.0},
        {"submit": 2.0, "end": 4.0},  # overlaps the first
        {"submit": 6.0, "end": 12.0},  # clipped at the span end
    ]
    assert tracing._spark_busy(jobs, 0.0, 10.0) == pytest.approx(3.0 + 4.0)


def test_layer_metrics_split_train_into_driver_and_spark_time():
    def span(i, name, parent, start, end, rows=0):
        return {"id": i, "name": name, "op": "x", "parent": parent,
                "start": start, "end": end, "rows": rows}

    spans = [
        span(0, "op", None, 0.0, 20.0),
        span(1, "cli.train", 0, 0.0, 12.0),
        span(2, "tree.train", 1, 1.0, 11.0),
        span(3, "c45_stats.melt", 2, 1.5, 2.0),
        span(4, "action.toPandas", 2, 3.0, 5.0, rows=40),
        span(5, "action.collect", 4, 3.5, 4.5, rows=40),  # nested: not counted twice
        span(6, "action.localCheckpoint", 2, 6.0, 7.0),
        span(7, "cli.predict", 0, 12.0, 20.0),
        span(8, "action.write", 7, 13.0, 15.0),
        span(9, "tree.accuracy", 7, 15.0, 18.0),
        span(10, "action.collect", 9, 15.5, 17.5, rows=1),
    ]
    jobs = [
        {"submit": 3.0, "end": 5.0, "stages": 2, "tasks": 8, "cpu_s": 1.0,
         "input_mb": 1.0, "shuffle_write_mb": 0.5},
        {"submit": 6.0, "end": 7.0, "stages": 1, "tasks": 4, "cpu_s": 0.5,
         "input_mb": 0.0, "shuffle_write_mb": 0.0},
        {"submit": 13.0, "end": 15.0, "stages": 1, "tasks": 4, "cpu_s": 2.0,
         "input_mb": 3.0, "shuffle_write_mb": 0.0},
    ]
    m = tracing.op_layer_metrics(spans, jobs)
    assert m["tree.train_s"] == 10.0
    assert m["tree.spark_s"] == 3.0
    assert m["tree.driver_s"] == 7.0
    assert m["tree.jobs"] == 2 and m["tree.stages"] == 3 and m["tree.tasks"] == 12
    assert m["tree.collected_rows"] == 40
    assert m["tree.checkpoints"] == 1
    assert m["c45_stats.calls"] == 1 and m["c45_stats.plan_s"] == 0.5
    assert m["tree.score_s"] == 5.0  # the write plus the accuracy pass
    assert m["cli.predict_s"] == 8.0
    assert m["pipeline.jobs"] == 0
