"""The engine's benchmark: seeded workloads driven through the public CLI.

    python3 perfbench/run.py --workload train_tsv --seed 1 --seconds 10 --trace 0

One run opens a Spark session the way the CLI does, then runs one
workload's op over and over in that session through
``__main__.cli(argv, spark=...)``, checking every op's output against an
independent answer (``checks.py``). Inputs come from ``gen.py`` and are
cached per seed under ``.perfbench_work/`` in the checkout, outside
every timed region. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics (``--trace 0``):

- ``setup_s``: package import + ``get_spark`` + one trivial job in this
  fresh process (one sample a run: each costs a JVM start, ~9 s);
- ``op_s``: median of the measured warm ops. After the cold op,
  ``warmup`` more ops are discarded, then ops are measured until at
  least ``min_ops`` have run and ``--seconds`` have passed. Op times
  fall for many ops while the JVM compiles, so the schedule is fixed
  per workload rather than cut at a plateau: every run measures the
  same ops of that curve. ``curate``'s warm-up ops run on a small
  corpus of the same shape: they plan and run the same queries at half
  the cost, so the measured ops reach the plateau sooner.

Between ops, outside the timed region, the run releases what the op
left cached, runs Python and JVM GC and deletes the op's output.

``--trace 1`` runs the same schedule with the tracer of ``tracing.py``
installed on every other measured op, the first one included, and
prints the per-layer metrics instead: medians over the traced ops, plus
``cold_s`` (the first op in the fresh session; its ten-seed spread
exceeds a tenth, so it is a trace metric rather than an end-to-end
one), ``trace.overhead_s`` (median traced minus median untraced op
time; the first untraced op comes after the first traced one, so while
op times still fall it reads high by that fall) and ``host.steal_s``
(CPU steal over the whole run, from ``/proc/stat``). Spans are written to
``.perfbench_work/trace/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "c4_5decisiontreebasedonmapreduce_spark"

sys.path.insert(0, HERE)
import bench_session  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402


@dataclass(frozen=True)
class Table:
    sub: str  # the table's subdirectory of the inputs
    max_depth: int  # ``--max-depth``, which every tree fills
    predict: bool  # also run ``cli predict`` with the model just written


@dataclass(frozen=True)
class Workload:
    warmup: int  # warm ops discarded after the cold op
    min_ops: int  # fewest measured warm ops in a run
    tables: tuple[Table, ...] = ()  # train ops: one ``cli train`` per table


# why each workload is there: BENCHMARK.json and NOTES.md. One
# ``train_tsv`` op trains on the narrow table (every level on the
# driver-stats path), scores it, then trains on the wide table (a
# 600-node level on the distributed c45_stats reduction). The warm-up
# counts come from per-op times on a 4-core host (NOTES.md); the op
# counts are what the run budget allows (48 runs in 3420 s).
WORKLOADS = {
    "train_tsv": Workload(
        warmup=0, min_ops=1, tables=(Table("narrow", 6, True), Table("wide", 2, False))
    ),
    "curate": Workload(warmup=3, min_ops=4),
}


class Run:
    """One run's session, inputs and output checks."""

    def __init__(self, spark, workload: str, seed: int, inputs: str, answers: "Answers"):
        from c4_5decisiontreebasedonmapreduce_spark.__main__ import cli

        self.spark = spark
        self.cli = cli
        self.name = workload
        self.seed = seed
        self.wl = WORKLOADS[workload]
        self.inputs = inputs
        self.answers = answers
        self.out = os.path.join(WORK, "out")
        self.tracer = None
        self.rules_txt: dict[str, bytes] = {}

    def _cli(self, argv: list[str], span: str) -> str:
        buf = io.StringIO()
        traced = self.tracer.span(span) if self.tracer else contextlib.nullcontext()
        with contextlib.redirect_stdout(buf), traced:
            rc = self.cli(argv, spark=self.spark)
        if rc != 0:
            raise RuntimeError(f"cli {argv[0]} returned {rc}")
        return buf.getvalue()

    def op(self, warmup: bool = False) -> dict[str, str]:
        """Run one op; return the CLI's stdout per command. A warm-up
        curate op runs on the small corpus."""
        if self.name == "curate":
            src = os.path.join(self.inputs, gen.WARMUP_SUB) if warmup else self.inputs
            argv = ["curate", src, os.path.join(self.out, "curate"), "--decontaminate"]
            return {"curate": self._cli(argv, "cli.curate")}
        out = {}
        for t in self.wl.tables:
            tsv = os.path.join(self.inputs, t.sub, "train.tsv")
            attrs = os.path.join(self.inputs, t.sub, "train.attributes")
            model = os.path.join(self.out, t.sub, "model")
            argv = ["train", tsv, model, attrs, "--max-depth", str(t.max_depth)]
            out[f"{t.sub}.train"] = self._cli(argv, "cli.train")
            if t.predict:
                argv = ["predict", tsv, os.path.join(self.out, t.sub, "pred"), attrs,
                        "--model", os.path.join(model, "model.json")]
                out[f"{t.sub}.predict"] = self._cli(argv, "cli.predict")
        return out

    def check(self, stdout: dict[str, str], warmup: bool = False) -> list[str]:
        """Problems with the last op's output."""
        if self.name == "curate":
            return checks.check_curate(
                stdout["curate"], os.path.join(self.out, "curate"),
                self.answers.get(gen.WARMUP_SUB if warmup else ""),
            )
        expected = self.answers.get()
        problems = []
        for t in self.wl.tables:
            out = os.path.join(self.out, t.sub)
            found = checks.check_train(out, expected[t.sub])
            if t.predict:
                found += checks.check_predict(stdout[f"{t.sub}.predict"], out, expected[t.sub])
            with open(os.path.join(out, "model", "rules.txt"), "rb") as f:
                rules = f.read()
            if self.rules_txt.setdefault(t.sub, rules) != rules:
                found.append("rules.txt differs from the run's first op")
            problems += [f"{t.sub}: {p}" for p in found]
        return problems

    def settle(self) -> float:
        """Release what the last op left behind; return the MB of cached
        blocks it had left."""
        sc = self.spark.sparkContext
        retained = sum(i.memSize() for i in sc._jsc.sc().getRDDStorageInfo())
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        gc.collect()
        sc._jvm.System.gc()
        shutil.rmtree(self.out, ignore_errors=True)
        return retained / 2**20

    def text_scan_s(self) -> float:
        """A standalone typed scan of the TSV, written to noop."""
        from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import (
            parse_attributes_file,
            read_training_tsv,
        )

        table = os.path.join(self.inputs, self.wl.tables[0].sub)
        schema = parse_attributes_file(os.path.join(table, "train.attributes"))
        t0 = time.perf_counter()
        read_training_tsv(self.spark, os.path.join(table, "train.tsv"), schema) \
            .write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


# the curate oracle's cache key: the check and the package's SQL
ORACLE_KEY = gen.source_key(
    os.path.join(HERE, "checks.py"),
    os.path.join(ROOT, PACKAGE, "operators", "pipeline.py"),
)


class Answers:
    """The independent answers every op of a run is checked against.

    A train workload's answers are read from its generated tables. The
    curate oracles, one for the run's corpus and one for the warm-up
    corpus, are computed in processes of their own (they import the
    package, which set-up must import itself) and cached beside the
    inputs; ``get`` waits for one. Until then they run beside whatever
    the run does, so ``main`` waits for them before set-up in a traced
    run, whose cold op is reported, and after set-up in a plain run,
    whose cold op is discarded."""

    def __init__(self, workload: str, inputs: str):
        self.inputs = inputs
        self.oracles = ("", gen.WARMUP_SUB) if workload == "curate" else ()
        self.procs: dict[str, subprocess.Popen] = {}
        self.value: dict = {}
        for t in WORKLOADS[workload].tables:
            d = os.path.join(inputs, t.sub)
            features, labels = checks.read_tsv(
                os.path.join(d, "train.tsv"), os.path.join(d, "train.attributes")
            )
            self.value[t.sub] = {
                "n_rows": len(labels),
                "depth": t.max_depth,
                "features": features,
                "labels": labels,
            }

    def _path(self, corpus: str) -> str:
        return os.path.join(self.inputs, corpus, f"oracle-{ORACLE_KEY}.json")

    def start(self) -> None:
        for corpus in self.oracles:
            if corpus not in self.procs and not os.path.exists(self._path(corpus)):
                self.procs[corpus] = subprocess.Popen(
                    [sys.executable, os.path.join(HERE, "checks.py"),
                     os.path.join(self.inputs, corpus, "documents.parquet"), self._path(corpus)]
                )

    def get(self, corpus: str | None = None):
        """A train workload's answers, or the oracle of one curate corpus."""
        if corpus is None:
            return self.value
        if corpus not in self.value:
            proc = self.procs.pop(corpus, None)
            if proc is not None and proc.wait(timeout=600) != 0:
                raise RuntimeError("the curate oracle failed")
            with open(self._path(corpus)) as f:
                self.value[corpus] = json.load(f)
        return self.value[corpus]

    def wait(self) -> None:
        for corpus in self.oracles:
            self.get(corpus)

    def close(self) -> None:
        for proc in self.procs.values():
            proc.kill()
            proc.wait()
        self.procs.clear()


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def timed(self, run: Run, warmup: bool = False) -> float:
        """Time one op, check its output outside the timed region."""
        self.attempted += 1
        steal0 = steal_seconds()
        t0 = time.perf_counter()
        try:
            stdout = run.op(warmup)
            dt = time.perf_counter() - t0
            steal = steal_seconds() - steal0
            problems = run.check(stdout, warmup)
        except Exception:  # an op that raises is a failed op, not a crash
            dt = time.perf_counter() - t0
            steal = steal_seconds() - steal0
            traceback.print_exc()
            problems = ["op raised"]
        print(f"op {self.attempted}: {dt:.3f} s, host steal {steal:.2f} s", file=sys.stderr)
        if problems:
            self.failed += 1
            print(f"op {self.attempted} failed: {problems}", file=sys.stderr)
        return dt


def warm_up(run: Run, tally: Tally) -> float:
    """Run the cold op and the discarded warm-up ops; return the cold
    op's time."""
    cold = tally.timed(run)
    run.settle()
    for _ in range(run.wl.warmup):
        tally.timed(run, warmup=True)
        run.settle()
    return cold


def measure(run: Run, seconds: float, tally: Tally) -> dict[str, float]:
    warm_up(run, tally)
    warm = []
    t0 = time.perf_counter()
    while len(warm) < run.wl.min_ops or time.perf_counter() - t0 < seconds:
        warm.append(tally.timed(run))
        run.settle()
    return {"op_s": statistics.median(warm)}


def measure_traced(run: Run, seconds: float, tally: Tally) -> dict[str, float]:
    import tracing

    cold = warm_up(run, tally)
    tracer = tracing.Tracer(run.spark)
    layers, traced, plain = [], [], []
    t0 = time.perf_counter()
    while len(plain) + len(traced) < max(run.wl.min_ops, 2) or time.perf_counter() - t0 < seconds:
        if len(traced) > len(plain):
            plain.append(tally.timed(run))
            run.settle()
            continue
        first_job = tracer.last_job_id()
        gc0 = tracer.gc_seconds()
        tracer.install()
        run.tracer = tracer
        try:
            with tracer.op(f"{run.name}-op{tally.attempted + 1}") as root:
                dt = tally.timed(run)
        finally:
            run.tracer = None
            tracer.uninstall()
        gc_s = tracer.gc_seconds() - gc0
        spans = [s for s in tracer.spans if s["op"] == root["op"]]
        m = tracing.op_layer_metrics(spans, tracer.jobs_after(first_job))
        m["jvm.gc_s"] = gc_s
        retained = run.settle()
        m["tree.retained_cache_mb"] = retained if m["tree.train_s"] else 0.0
        m["jvm.heap_after_gc_mb"] = tracer.heap_used_mb()
        layers.append(m)
        traced.append(dt)
    out = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
    out["cold_s"] = cold
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    out["tsv.scan_s"] = (
        statistics.median(run.text_scan_s() for _ in range(3)) if run.name != "curate" else 0.0
    )
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    tracer.write(os.path.join(WORK, "trace", f"{run.name}-seed{run.seed}.jsonl"))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    steal0 = steal_seconds()
    inputs = gen.ensure_inputs(WORK, args.workload, args.seed)
    answers = Answers(args.workload, inputs)
    try:
        if args.trace:
            answers.start()
            answers.wait()
        spark, setup = bench_session.open_session(WORK)
        answers.start()
        tally = Tally()
        try:
            run = Run(spark, args.workload, args.seed, inputs, answers)
            if args.trace:
                values = measure_traced(run, args.seconds, tally)
                values["session.start_s"] = setup
            else:
                values = measure(run, args.seconds, tally)
        finally:
            bench_session.close_session(spark)
    finally:
        answers.close()
    if args.trace:
        values["host.steal_s"] = steal_seconds() - steal0
    else:
        values["setup_s"] = setup
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
