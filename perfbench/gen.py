"""Seeded inputs for the benchmark's workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes the same bytes, and a different seed changes the values but not
the shape (row counts, domains, label noise), so the amount of work
does not depend on the seed.

- ``train_tsv``: two native TSV training tables, each with its
  attributes side-file.

  - ``narrow/`` is shaped like the lineitem projection: four numerics
    on a 0.01 grid (≫256 distinct values, so quantile binning engages),
    one two-value categorical and a three-class label that is only
    weakly tied to the features, so the tree keeps splitting to
    ``--max-depth``.
  - ``wide/`` has the shape of ``operators.training.wide_training`` at
    16 numerics: one 600-value categorical, 16 numerics on a
    10,000-value grid and a two-class label set by the categorical's
    group with 30% flips. The depth-1 frontier is the 600 groups, which
    puts the level's contingency bound past the driver-stats limit.
- ``curate``: a documents corpus shaped like the engine's ``documents``
  table (31-word vocabulary, 10-99 words a document, near-duplicates
  marked by a trailing ``dup``, a few exact duplicates) with some PII
  spans for the scrub, plus one salted copy built the way
  ``scripts/make_scale_data.py`` builds its copies; the salt word is
  drawn from the seed. ``warmup/`` holds a small corpus made the same
  way, for the discarded warm-up ops: they plan and run the same
  queries at half the cost, so the JIT reaches its plateau sooner.

Inputs are cached under ``<work>/inputs/<workload>-<seed>-<key>/``,
where the key is a digest of the generators' source, so a changed
generator writes fresh inputs. They are written through a temporary
directory, so an interrupted run never leaves a half-written input
behind.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
SCRIPTS = os.path.join(os.path.dirname(HERE), "scripts")
sys.path.insert(0, SCRIPTS)
from make_scale_data import STRIDE, salt_text  # noqa: E402

NARROW_ROWS = 50_000
WIDE_ROWS = 6_000
WIDE_NUMERIC = 16
WIDE_CAT_DOMAIN = 600
CORPUS_BASE_DOCS = 1_500
CORPUS_WARMUP_DOCS = 150
WARMUP_SUB = "warmup"  # the warm-up corpus's subdirectory of the inputs

# the documents vocabulary of the engine's synthetic corpus
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def _rng(workload: str, seed: int) -> np.random.Generator:
    tag = sum(ord(c) * 31**i for i, c in enumerate(workload)) % 2**32
    return np.random.default_rng([seed, tag])


def _grid(rng: np.random.Generator, n: int, cells: int) -> np.ndarray:
    """``n`` values on a 0.01 grid with ``cells`` points."""
    return rng.integers(0, cells, n) / 100.0


def _write_tsv(path: str, columns: list) -> None:
    with open(path, "w") as f:
        f.writelines("\t".join(row) + "\n" for row in zip(*columns))


def _fmt(values: np.ndarray) -> list[str]:
    return [f"{v:.2f}" for v in values.tolist()]


def narrow_table(out: str, seed: int, n_rows: int = NARROW_ROWS) -> None:
    rng = _rng("train_tsv", seed)
    x = [_grid(rng, n_rows, 100_000) for _ in range(4)]
    status = np.where(rng.random(n_rows) < 0.5, "O", "F")
    # a weak signal: 35% of rows follow a rule over three features, the
    # rest are uniform noise
    signal = (
        (x[0] // 250).astype(int) + (x[2] // 333).astype(int)
        + (status == "F")
    ) % 3
    noise = rng.integers(0, 3, n_rows)
    cls = np.where(rng.random(n_rows) < 0.35, signal, noise)
    labels = np.array(["R", "A", "N"])[cls]
    _write_tsv(
        os.path.join(out, "train.tsv"),
        [*(_fmt(v) for v in x), status.tolist(), labels.tolist()],
    )
    with open(os.path.join(out, "train.attributes"), "w") as f:
        f.write(
            "quantity:numeric\nextendedprice:numeric\ndiscount:numeric\n"
            "tax:numeric\nlinestatus:string:O,F\nreturnflag:R,A,N\n"
        )


def wide_table(out: str, seed: int, n_rows: int = WIDE_ROWS) -> None:
    rng = _rng("train_wide", seed)
    g = rng.integers(0, WIDE_CAT_DOMAIN, n_rows)
    flip = rng.random(n_rows) < 0.3
    pos = (g % 2 == 0) != flip
    cols = [[f"g{v:03d}" for v in g.tolist()]]
    cols += [_fmt(_grid(rng, n_rows, 10_000)) for _ in range(WIDE_NUMERIC)]
    cols.append(np.where(pos, "pos", "neg").tolist())
    _write_tsv(os.path.join(out, "train.tsv"), cols)
    domain = ",".join(f"g{i:03d}" for i in range(WIDE_CAT_DOMAIN))
    lines = [f"w_cat:string:{domain}"]
    lines += [f"w_n{i:02d}:numeric" for i in range(WIDE_NUMERIC)]
    lines.append("w_cls:neg,pos")
    with open(os.path.join(out, "train.attributes"), "w") as f:
        f.write("\n".join(lines) + "\n")


def corpus_rows(seed: int, n_base: int = CORPUS_BASE_DOCS) -> list[tuple]:
    """``(doc_id, text, lang, source)`` rows of the base corpus followed
    by its salted copy.

    The corpus's structure (which documents are duplicates of which, the
    document lengths, where PII goes) does not depend on the seed, so
    every seed gives the pipeline work of the same shape; the seed
    draws the words, the PII values and the salt."""
    shape = _rng("curate-shape", 0)
    rng = _rng("curate", seed)
    texts: list[str] = []
    for i in range(n_base):
        r = shape.random()
        if i > 10 and r < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(shape.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(shape.integers(0, i))])
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(shape.integers(10, 100)))]
            if shape.random() < 0.03:
                pii = (
                    f"user{int(rng.integers(1000))}@mail.example.com",
                    "10.{}.{}.{}".format(*rng.integers(0, 256, 3).tolist()),
                    "555-{:03d}-{:04d}".format(
                        int(rng.integers(1000)), int(rng.integers(10_000))
                    ),
                )[int(shape.integers(0, 3))]
                words.insert(int(shape.integers(0, len(words))), pii)
            texts.append(" ".join(words))
    salt = int(rng.integers(10**6))
    rows = []
    for copy in (0, 1):
        for i, t in enumerate(texts):
            doc_id = copy * STRIDE + i
            text = t if copy == 0 else salt_text(t, salt, doc_id)
            rows.append((doc_id, text, LANGS[(i * 7 + 3) % len(LANGS)], f"src{i % 20}"))
    return rows


def corpus(out: str, seed: int, n_base: int = CORPUS_BASE_DOCS) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = corpus_rows(seed, n_base)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out, "documents.parquet"))


def train_tables(out: str, seed: int) -> None:
    for sub, make in (("narrow", narrow_table), ("wide", wide_table)):
        os.makedirs(os.path.join(out, sub))
        make(os.path.join(out, sub), seed)


def curate_inputs(out: str, seed: int) -> None:
    corpus(out, seed)
    os.makedirs(os.path.join(out, WARMUP_SUB))
    corpus(os.path.join(out, WARMUP_SUB), seed, CORPUS_WARMUP_DOCS)


GENERATORS = {"train_tsv": train_tables, "curate": curate_inputs}


def source_key(*paths: str) -> str:
    """A short digest of the files' bytes."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


INPUTS_KEY = source_key(os.path.abspath(__file__), os.path.join(SCRIPTS, "make_scale_data.py"))


def ensure_inputs(work: str, workload: str, seed: int) -> str:
    """Directory holding ``workload``'s inputs for ``seed``, generating
    them on first use."""
    final = os.path.join(work, "inputs", f"{workload}-{seed}-{INPUTS_KEY}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed)
    os.rename(tmp, final)
    return final
