"""The traced run: spans around calls into the engine's layers, and
Spark's own counters for the jobs each op ran.

Spans are recorded from outside the program: ``Tracer.install`` wraps
the public functions of the layers named below, plus the pyspark
actions beneath them, and ``uninstall`` restores the originals. A span
is ``(id, name, op, parent, start, end)`` and is kept in memory until
the run writes the whole list out.

Jobs are attributed to an op by job id (every job submitted between
the op's first and last moment) and to a span by submission time; their
stage metrics come from the application status store, which Spark keeps
with the UI disabled.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024

# pyspark actions beneath the layers; their spans carry collected rows
ACTIONS = {
    "collect": "action.collect",
    "toPandas": "action.toPandas",
    "count": "action.count",
    "localCheckpoint": "action.localCheckpoint",
    "checkpoint": "action.checkpoint",
}
WRITER_ACTIONS = {"parquet": "action.write", "save": "action.write"}
MODEL_IO = ("save", "save_parquet", "load", "to_reference_text")


def _layer_targets():
    """``(owner, attribute, span name)`` for every wrapped callable."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        c45_stats,
        pipeline,
        tree,
    )
    from c4_5decisiontreebasedonmapreduce_spark.sources import tsv

    model = tree.DecisionListModel
    targets = [
        (tree, "train", "tree.train"),
        (tree, "accuracy", "tree.accuracy"),
        (model, "transform", "tree.transform"),
        *[(model, m, f"tree.model_io.{m}") for m in MODEL_IO],
        (tsv, "read_training_tsv", "tsv.read_training_tsv"),
        (tsv, "parse_attributes_file", "tsv.parse_attributes_file"),
        (pipeline, "pretraining_decontam_pipeline", "pipeline.pretraining_decontam_pipeline"),
    ]
    targets += [
        (c45_stats, name, f"c45_stats.{name}")
        for name, fn in vars(c45_stats).items()
        if inspect.isfunction(fn)
        and fn.__module__ == c45_stats.__name__
        and not name.startswith("_")
    ]
    targets += [(DataFrame, a, n) for a, n in ACTIONS.items()]
    targets += [(DataFrameWriter, a, n) for a, n in WRITER_ACTIONS.items()]
    return targets


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._op: str | None = None
        self._op_stack: list[int] = []
        jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._mx = jvm.java.lang.management.ManagementFactory

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        # a span opened on another thread (the trainer's checkpoint pool)
        # hangs off the innermost open span of the op's thread
        parents = stack or self._op_stack
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "op": self._op,
                "parent": parents[-1] if parents else None,
                "start": time.time(),
                "end": None,
                "rows": 0,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def op(self, op_id: str):
        """Every span opened inside belongs to ``op_id``."""
        self._op = op_id
        self._op_stack = self._local.__dict__.setdefault("stack", [])
        try:
            with self.span("op") as root:
                yield root
        finally:
            self._op_stack = []
            self._op = None

    def _wrapper(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if name in ("action.collect", "action.toPandas"):
                    rec["rows"] = len(out)
                return out

        return traced

    def install(self) -> None:
        for owner, attr, name in _layer_targets():
            raw = inspect.getattr_static(owner, attr)
            if isinstance(raw, classmethod):
                patched = classmethod(self._wrapper(raw.__func__, name))
            else:
                patched = self._wrapper(raw, name)
            self._patches.append((owner, attr, raw))
            setattr(owner, attr, patched)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in self.spans)

    # -- Spark and JVM counters ----------------------------------------
    def _drain_listener(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain_listener()
        jobs = self._jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_after(self, first: int) -> list[dict]:
        """Every job with id above ``first``, with its stage totals."""
        last = self.last_job_id()
        store = self._jsc.statusStore()
        out = []
        for jid in range(first + 1, last + 1):
            job = store.job(jid)
            rec = {
                "id": jid,
                "submit": job.submissionTime().get().getTime() / 1000.0,
                "end": job.completionTime().get().getTime() / 1000.0,
                "stages": 0,
                "tasks": 0,
                "cpu_s": 0.0,
                "input_mb": 0.0,
                "shuffle_write_mb": 0.0,
            }
            sids = job.stageIds()
            for i in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(i))
                if st.status().toString() != "COMPLETE":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["input_mb"] += st.inputBytes() / MB
                rec["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out.append(rec)
        return out

    def gc_seconds(self) -> float:
        beans = self._mx.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def heap_used_mb(self) -> float:
        return self._mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB


# -- per-op layer metrics ------------------------------------------------
def _children(spans: list[dict]) -> dict[int, list[dict]]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def _within(spans: list[dict], outer: dict) -> list[dict]:
    """Spans that descend from ``outer``."""
    kids = _children(spans)
    out, todo = [], [outer["id"]]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k["id"])
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _self_time(s: dict, kids: dict[int, list[dict]]) -> float:
    return _dur(s) - sum(_dur(k) for k in kids.get(s["id"], []))


def _spark_busy(jobs: list[dict], lo: float, hi: float) -> float:
    """Length of the union of job intervals, clipped to ``[lo, hi]``."""
    iv = sorted((max(j["submit"], lo), min(j["end"], hi)) for j in jobs)
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def _jobs_in(jobs: list[dict], outers: list[dict]) -> list[dict]:
    # the status store keeps milliseconds
    return [
        j for j in jobs
        if any(o["start"] - 0.001 <= j["submit"] <= o["end"] + 0.001 for o in outers)
    ]


def _job_totals(prefix: str, jobs: list[dict]) -> dict[str, float]:
    return {
        f"{prefix}.jobs": len(jobs),
        f"{prefix}.stages": sum(j["stages"] for j in jobs),
        f"{prefix}.tasks": sum(j["tasks"] for j in jobs),
        f"{prefix}.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        f"{prefix}.shuffle_write_mb": sum(j["shuffle_write_mb"] for j in jobs),
        f"{prefix}.input_mb": sum(j["input_mb"] for j in jobs),
    }


def _outermost(by_id: dict[int, dict], subset: list[dict], pred) -> list[dict]:
    """Spans of ``subset`` matching ``pred`` with no matching ancestor."""

    def covered(s):
        p = s["parent"]
        while p is not None:
            if pred(by_id[p]):
                return True
            p = by_id[p]["parent"]
        return False

    return [s for s in subset if pred(s) and not covered(s)]


def _is_action(s: dict) -> bool:
    return s["name"].startswith("action.")


def _is_checkpoint(s: dict) -> bool:
    return s["name"] in ("action.localCheckpoint", "action.checkpoint")


def op_layer_metrics(spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Per-layer numbers of one op from its spans and jobs. Layers the op
    did not touch read 0."""
    kids = _children(spans)
    by_id = {s["id"]: s for s in spans}
    named = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    m: dict[str, float] = {}

    def inside(outer_name):
        outers = named(outer_name)
        return outers, [s for o in outers for s in _within(spans, o)]

    cli_train, _ = inside("cli.train")
    cli_predict, in_predict = inside("cli.predict")
    m["cli.train_s"] = sum(map(_dur, cli_train))
    m["cli.predict_s"] = sum(map(_dur, cli_predict))

    trains, in_train = inside("tree.train")
    train_s = sum(map(_dur, trains))
    tree_jobs = _jobs_in(jobs, trains)
    tree_busy = sum(_spark_busy(tree_jobs, t["start"], t["end"]) for t in trains)
    m["tree.train_s"] = train_s
    m["tree.spark_s"] = tree_busy
    m["tree.driver_s"] = train_s - tree_busy
    m.update(_job_totals("tree", tree_jobs))
    m["tree.collected_rows"] = sum(
        s["rows"] for s in _outermost(by_id, in_train, _is_action)
    )
    m["tree.checkpoints"] = sum(map(_is_checkpoint, in_train))
    stats = [s for s in spans if s["name"].startswith("c45_stats.")]
    m["c45_stats.calls"] = len(stats)
    m["c45_stats.plan_s"] = sum(_self_time(s, kids) for s in stats)
    # the actions that evaluate the prediction column (each scans the TSV)
    scoring = _outermost(
        by_id, in_predict, lambda s: _is_action(s) or s["name"] == "tree.accuracy"
    )
    m["tree.score_s"] = sum(map(_dur, scoring))
    m["tree.model_io_s"] = sum(
        _dur(s) for s in spans if s["name"].startswith("tree.model_io.")
    )

    curates, in_curate = inside("cli.curate")
    cur_jobs = _jobs_in(jobs, curates)
    cur_busy = sum(_spark_busy(cur_jobs, c["start"], c["end"]) for c in curates)
    m["pipeline.spark_s"] = cur_busy
    m["pipeline.driver_s"] = sum(map(_dur, curates)) - cur_busy
    m.update(_job_totals("pipeline", cur_jobs))
    m["pipeline.plan_s"] = sum(
        _self_time(s, kids)
        for s in in_curate
        if s["name"] == "pipeline.pretraining_decontam_pipeline"
    )
    m["pipeline.checkpoints"] = sum(map(_is_checkpoint, in_curate))
    return m

