"""Independent answers for the benchmark's output checks.

The train checks recompute everything from the generated TSV and the
written ``model.json`` in plain NumPy, without Spark: the leaf counts
must add up to the row count, and the accuracy ``cli predict`` prints
must equal the accuracy of the decision list evaluated here. The curate
check compares the written manifest, read with pyarrow, against the
repository's DuckDB oracle for ``pipeline_pretraining_decontam``.

Each check returns a list of problems; an empty list means the op's
output is correct.

The oracle imports the engine's package, so a run computes it in a
process of its own, keeping the package out of the run's set-up time:

    python3 perfbench/checks.py <documents.parquet> <oracle.json>
"""

from __future__ import annotations

import glob
import json
import os
import sys

import numpy as np

MANIFEST_COLUMNS = ("shard", "n_docs", "n_tokens", "n_windows", "n_full_windows")


def read_tsv(path: str, attributes: str) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """Feature columns (numerics as float64, categoricals as str) and the
    label column of a generated TSV."""
    lines = [ln.strip() for ln in open(attributes) if ln.strip()]
    rows = [ln.rstrip("\n").split("\t") for ln in open(path)]
    cols = list(zip(*rows))
    features = {}
    for i, spec in enumerate(lines[:-1]):
        name, kind = spec.split(":")[:2]
        values = np.array(cols[i])
        features[name] = values if kind == "string" else values.astype(np.float64)
    return features, np.array(cols[-1])


def model_accuracy(rules: list[dict], features: dict, labels: np.ndarray) -> float:
    """Accuracy of a decision list over the rows: the first rule whose
    conditions all hold predicts; rows no rule covers take the training
    majority label (ties to the smallest label), as ``transform`` does."""
    totals: dict[str, int] = {}
    for r in rules:
        if r["label"] is not None:
            totals[r["label"]] = totals.get(r["label"], 0) + r["n"]
    default = min(totals.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    pred = np.full(len(labels), None, dtype=object)
    open_rows = np.ones(len(labels), dtype=bool)
    for r in rules:
        hit = open_rows.copy()
        for c in r["conditions"]:
            col = features[c["attr"]]
            if c["op"] == "==":
                hit &= col == c["value"]
            elif c["op"] == "<=":
                hit &= col <= float(c["value"])
            else:
                hit &= col > float(c["value"])
        pred[hit] = r["label"]
        open_rows &= ~hit
    pred[open_rows] = default
    return float(np.mean(pred == labels))


def check_train(out_dir: str, expected: dict) -> list[str]:
    """``out_dir/model`` is what ``cli train`` wrote; ``expected`` holds
    ``n_rows`` and the ``depth`` every tree fills."""
    problems = []
    try:
        rules = json.load(open(os.path.join(out_dir, "model", "model.json")))
    except (OSError, ValueError) as e:
        return [f"model.json unreadable: {e}"]
    leaf_n = sum(r["n"] for r in rules if r["label"] is not None)
    if leaf_n != expected["n_rows"]:
        problems.append(f"leaf n sums to {leaf_n}, table has {expected['n_rows']} rows")
    depth = max((r["depth"] for r in rules), default=0)
    if depth != expected["depth"]:
        problems.append(f"tree depth {depth}, expected {expected['depth']}")
    return problems


def check_predict(stdout: str, out_dir: str, expected: dict) -> list[str]:
    """The accuracy ``cli predict`` printed must equal the one computed
    here from ``model.json``."""
    try:
        printed = json.loads(stdout.strip().splitlines()[-1])
        rules = json.load(open(os.path.join(out_dir, "model", "model.json")))
    except (OSError, ValueError, IndexError) as e:
        return [f"predict output unreadable: {e}"]
    problems = []
    if printed.get("rows") != expected["n_rows"]:
        problems.append(f"predict scored {printed.get('rows')} rows, expected {expected['n_rows']}")
    ours = model_accuracy(rules, expected["features"], expected["labels"])
    if abs(printed.get("accuracy", -1.0) - ours) > 1e-12:
        problems.append(f"predict accuracy {printed.get('accuracy')} != {ours} from model.json")
    return problems


def oracle_manifest(documents_parquet: str) -> list[list[int]]:
    """The DuckDB oracle's manifest rows, sorted by shard."""
    import duckdb

    from c4_5decisiontreebasedonmapreduce_spark.operators.pipeline import (
        PRETRAINING_DECONTAM_SQL,
    )

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('"
            + documents_parquet.replace("'", "''") + "')"
        )
        cols = ", ".join(MANIFEST_COLUMNS)
        rows = con.execute(
            f"SELECT {cols} FROM ({PRETRAINING_DECONTAM_SQL}) ORDER BY shard"
        ).fetchall()
    finally:
        con.close()
    return [[int(v) for v in r] for r in rows]


def read_manifest(manifest_dir: str) -> list[list[int]]:
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(manifest_dir, "*.parquet")))
    if not files:
        raise OSError(f"no parquet files under {manifest_dir}")
    table = pq.ParquetDataset(files).read(columns=list(MANIFEST_COLUMNS))
    rows = [list(r.values()) for r in table.to_pylist()]
    return sorted([[int(v) for v in r] for r in rows])


def check_curate(stdout: str, out_dir: str, expected: list[list[int]]) -> list[str]:
    try:
        got = read_manifest(os.path.join(out_dir, "manifest"))
        summary = json.loads(stdout.strip().splitlines()[-1])
    except (OSError, ValueError, IndexError) as e:
        return [f"curate output unreadable: {e}"]
    problems = []
    if got != expected:
        problems.append(f"manifest {got} != oracle {expected}")
    if summary.get("n_docs") != sum(r[1] for r in expected):
        problems.append(f"printed n_docs {summary.get('n_docs')} != oracle")
    return problems


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    rows = oracle_manifest(sys.argv[1])
    with open(sys.argv[2] + ".tmp", "w") as f:
        json.dump(rows, f)
    os.rename(sys.argv[2] + ".tmp", sys.argv[2])
