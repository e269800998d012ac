"""C4.5 tree induction: level-synchronous frontier loop + decision-list model.

The reference grows the tree breadth-first, one MapReduce job per level,
with the frontier shipped to mappers via the distributed cache and the
model accumulated as a queue of conjunctive rules
(`/root/reference/src/program/Main.java:59-131`, `Rule.java:7-56`). Here the
loop is driver-side Python around DataFrame jobs:

- each row carries its node id ``rid``; a level's splits update it
  through per-parent lookup arrays compiled into the scan — no join, no
  shuffle; frontier rules partition the data, so each row gets exactly
  one ``rid``;
- the training input is read from its source once and materialized (the
  reference re-reads HDFS every level, `Main.java:200`);
- per level: one contingency aggregation, reduced in numpy after a
  bounded Arrow collect, or by the distributed gain-ratio stats
  (c45_stats) and a ``collect()`` of a ≤(|frontier|×|attrs|)-row result,
  replaces the reference's HDFS file round-trip (`Main.java:218-269`).

Deliberate divergences from the reference (SURVEY.md quirk ledger):
leaf labels are honest majority votes, not last-seen class (Q3); numeric
boundaries are per-rule, never leaked across siblings (Q2); rules whose
statistics vanish or whose numeric splits all fail the 10% guard become
majority-label leaves instead of silently dropping their rows (Q5).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from c4_5decisiontreebasedonmapreduce_spark.operators import c45_stats as S
from c4_5decisiontreebasedonmapreduce_spark.operators import fractional as FR
from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import TrainingSchema

OP_EQ, OP_LE, OP_GT = "==", "<=", ">"

# Upper bound on contingency rows the driver-side stats path may collect.
# The contingency is ≤ |frontier| × (Σ_cat |domain| + Σ_num bins) × |classes|
# rows REGARDLESS of data volume (quantile binning caps numeric cardinality),
# and below the root also ≤ rows alive × (1 + |features|); the guard takes
# the smaller. At ~40 bytes/row this caps driver transfer at ~160 MB — the
# same bounded-stats-collection contract MLlib's tree trainer relies on.
# Levels past it fall back to the fully distributed reduction.
_DRIVER_STATS_MAX_ROWS = 4_000_000


@dataclass(frozen=True)
class Condition:
    """One conjunct: categorical equality or a numeric half-space — the
    reference's ``attrId → value`` map entry with synthetic ``"<=b"``/
    ``">b"`` values (`Rule.java:7-14`, `Main.java:244-245`)."""

    attr: str
    op: str  # OP_EQ | OP_LE | OP_GT
    value: str | float

    def column(self) -> Column:
        c = F.col(self.attr)
        if self.op == OP_EQ:
            return c == F.lit(self.value)
        if self.op == OP_LE:
            return c <= F.lit(float(self.value))
        return c > F.lit(float(self.value))

    def sql(self) -> str:
        if self.op == OP_EQ:
            v = str(self.value).replace("'", "''")
            return f"\"{self.attr}\" = '{v}'"
        return f'"{self.attr}" {self.op} {float(self.value)!r}'


@dataclass
class Rule:
    """A decision-list entry: conjunction of conditions + (when finished)
    a label. ``label is None`` marks an interior/frontier rule — the
    reference's ``label == ""`` convention (`Rule.java:12-14`)."""

    conditions: tuple[Condition, ...] = ()
    label: str | None = None
    n: int | float = 0  # rows; a float mass under nulls='fractional'
    depth: int = 0
    # training class histogram at the leaf, sorted by label — carried
    # only on freshly trained models (compare=False keeps rule equality,
    # and every serde wire format, unchanged). Error-based pruning
    # (operators/pruning.py) needs it to pool sibling distributions.
    hist: tuple[tuple[str, int | float], ...] = field(
        default=(), compare=False
    )

    def predicate(self) -> Column:
        col = F.lit(True)
        for c in self.conditions:
            col = col & c.column()
        return col

    def used_attrs(self) -> set[str]:
        # only categorical equality exhausts an attribute; a numeric
        # attribute may split repeatedly at different boundaries
        # (the reference's unused-attr check `MyMapper.java:36-37` excludes
        # any conditioned attr; for numerics we diverge deliberately —
        # standard C4.5 allows re-splitting numeric attrs).
        return {c.attr for c in self.conditions if c.op == OP_EQ}

    def child(self, cond: Condition) -> "Rule":
        return Rule(self.conditions + (cond,), None, 0, self.depth + 1)


@dataclass
class DecisionListModel:
    """Finished model: ordered rules, equivalent to root-to-leaf paths
    (`Main.java:39,128-131`)."""

    rules: list[Rule] = field(default_factory=list)
    label_col: str = "label"

    @property
    def majority_label(self) -> str | None:
        """Training-majority label: leaf rules partition the training
        set, so summing leaf counts per label recovers the full class
        distribution (ties break to the lexicographically smallest label
        for determinism)."""
        totals: dict[str, int] = {}
        for r in self.rules:
            if r.label is not None:
                totals[r.label] = totals.get(r.label, 0) + r.n
        if not totals:
            return None
        return min(totals.items(), key=lambda kv: (-kv[1], kv[0]))[0]

    def prediction_column(self, default: str | None = None) -> Column:
        """The decision list as ONE nested CASE expression — the
        prediction path the reference lacks entirely.

        Rules are root-to-leaf paths, so they share condition prefixes;
        nesting the shared trie keeps the expression O(tree nodes) and
        evaluates each condition once per row. A flat rule-by-rule WHEN
        chain is O(rules × depth) and overflows JVM method-size limits
        around depth 8 (codegen falls back to interpreted row scans).

        The expression is rendered as Spark SQL text (:func:`_trie_sql`)
        and parsed by one ``F.expr`` call, so building it costs a fixed
        number of py4j round trips whatever the rule count; assembling it
        from ``F.when`` Column objects paid several round trips per
        condition (~5.5k calls, ~0.7 s for a 64-rule model).

        Rows no trie path matches — i.e. a categorical value outside the
        training domain — predict ``default``, which falls back to the
        training-majority label (the reference crashes/drops such rows,
        SURVEY quirk Q5; in-domain rows always reach a leaf, so their
        predictions are unaffected)."""
        if default is None:
            default = self.majority_label
        return F.expr(
            _trie_sql([(r.conditions, r.label) for r in self.rules], default)
        )

    def transform(self, df: DataFrame, out_col: str = "prediction") -> DataFrame:
        return df.withColumn(out_col, self.prediction_column())

    def to_df(self, spark) -> DataFrame:
        """The model as a relation — one row per rule, ``rule_id``
        carrying the list position so a columnar roundtrip
        (:meth:`save_parquet` / :meth:`load_parquet`) reconstructs the
        decision list deterministically regardless of file/row order.
        ``n`` is BIGINT for row counts and DOUBLE once any rule carries a
        fractional mass (``nulls='fractional'``), so both read back
        exactly, as the same Python type.

        The rows reach Spark as one Arrow table rather than as Python
        tuples that ``createDataFrame`` would serialize one by one."""
        counts = all(isinstance(r.n, int) for r in self.rules)
        schema = T.StructType(
            [
                T.StructField("rule_id", T.IntegerType()),
                T.StructField(
                    "conditions",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("attr", T.StringType()),
                                T.StructField("op", T.StringType()),
                                T.StructField("value", T.StringType()),
                            ]
                        )
                    ),
                ),
                T.StructField("label", T.StringType()),
                T.StructField("n", T.LongType() if counts else T.DoubleType()),
                T.StructField("depth", T.IntegerType()),
            ]
        )
        cond = pa.struct([(f, pa.string()) for f in ("attr", "op", "value")])
        table = pa.table(
            {
                "rule_id": pa.array(range(len(self.rules)), pa.int32()),
                "conditions": pa.array(
                    [
                        [(c.attr, c.op, str(c.value)) for c in r.conditions]
                        for r in self.rules
                    ],
                    pa.list_(cond),
                ),
                "label": pa.array([r.label for r in self.rules], pa.string()),
                "n": pa.array(
                    [r.n if counts else float(r.n) for r in self.rules],
                    pa.int64() if counts else pa.float64(),
                ),
                "depth": pa.array([r.depth for r in self.rules], pa.int32()),
            }
        )
        return spark.createDataFrame(table, schema)

    def to_sql_case(self, default: str | None = None) -> str:
        """Render the model as ONE portable ANSI SQL CASE expression —
        scoring without Spark, on any SQL engine (the deployment story
        the reference's stdout print cannot offer). Flat WHEN-per-rule:
        the rules partition the feature space, so first-match ==
        only-match and flat order is semantics-free; the trie compile
        (:meth:`prediction_column`) is a Spark-codegen optimization the
        SQL text doesn't need at model sizes. Out-of-domain rows fall to
        ``default`` (training majority), matching ``transform``.
        Identifiers are double-quoted, values single-quote-escaped.
        Cross-engine parity — DuckDB executing this text equals Spark's
        ``transform`` row-for-row — is pinned by
        tests/test_tree_golden.py::test_model_sql_export_matches_transform."""
        if default is None:
            default = self.majority_label

        def lit(s: str | None) -> str:
            # an interior (label-None) rule predicts NULL in transform
            # (_trie_sql renders it as NULL) — the SQL must agree, not
            # substitute the default
            if s is None:
                return "NULL"
            return "'" + s.replace("'", "''") + "'"

        whens = []
        for r in self.rules:
            if not r.conditions:
                whens.append(f"WHEN TRUE THEN {lit(r.label)}")
            else:
                pred = " AND ".join(c.sql() for c in r.conditions)
                whens.append(f"WHEN {pred} THEN {lit(r.label)}")
        tail = f" ELSE {lit(default)}" if default is not None else ""
        return "CASE " + " ".join(whens) + tail + " END"

    def save_parquet(self, spark, path: str) -> None:
        """Columnar model sink (VERDICT r6 item 6): persist the decision
        list as a parquet relation via :meth:`to_df`, matching the
        engine's own sink story (`sink_model`, SURVEY §2.A #20 — the
        reference only prints rules to stdout, `Main.java:128-131`).
        One file: a model is rules-count-sized, never data-sized."""
        self.to_df(spark).coalesce(1).write.mode("overwrite").parquet(path)

    @classmethod
    def load_parquet(
        cls, spark, path: str, label_col: str = "label"
    ) -> "DecisionListModel":
        """Rebuild the model from the parquet relation, restoring list
        order from ``rule_id`` and re-typing numeric half-space
        condition values (stored as strings, same convention as the
        JSON serde)."""
        rows = spark.read.parquet(path).orderBy("rule_id").collect()
        rules = [
            Rule(
                tuple(
                    Condition(
                        c["attr"],
                        c["op"],
                        c["value"] if c["op"] == OP_EQ else float(c["value"]),
                    )
                    for c in r["conditions"]
                ),
                r["label"],
                r["n"],
                r["depth"],
            )
            for r in rows
        ]
        return cls(rules=rules, label_col=label_col)

    def to_json(self) -> str:
        return json.dumps(
            [
                {
                    "conditions": [
                        {"attr": c.attr, "op": c.op, "value": c.value}
                        for c in r.conditions
                    ],
                    "label": r.label,
                    "n": r.n,
                    "depth": r.depth,
                }
                for r in self.rules
            ]
        )

    @classmethod
    def from_json(cls, text: str, label_col: str = "label") -> "DecisionListModel":
        rules = [
            Rule(
                tuple(
                    Condition(
                        c["attr"],
                        c["op"],
                        c["value"] if c["op"] == OP_EQ else float(c["value"]),
                    )
                    for c in r["conditions"]
                ),
                r["label"],
                r["n"],
                r["depth"],
            )
            for r in json.loads(text)
        ]
        return cls(rules=rules, label_col=label_col)

    def to_reference_text(self, attr_order: list[str]) -> list[str]:
        """Render the model in the reference's exact wire format, one
        rule per line: ``aid1,val1&aid2,val2&...:label``
        (`Rule.java:22-33`). Attribute ids are indices into
        ``attr_order`` (the attributes-file order, `Main.java:137-152`);
        numeric conditions render as the synthetic ``<=b`` / ``>b``
        domain values the reference's driver substitutes
        (`Main.java:244-245`). One documented divergence: the
        reference's ``Rule.toString`` crashes on a condition-less rule
        (root-is-leaf, quirk Q4 in SURVEY.md) — ours renders it as
        ``:label``.

        FORMAT CONSTRAINT (shared with the reference, which never
        validates it): ``,``/``&``/``:`` are structural delimiters, so a
        categorical value or label containing one — or an OP_EQ value
        beginning with ``<=`` / ``>``, which re-parses as a numeric
        half-space — would render a line that silently mis-parses.
        Such models raise ValueError here instead of corrupting the
        wire text (ADVICE r6)."""
        aid = {a: i for i, a in enumerate(attr_order)}
        lines = []
        for r in self.rules:
            for c in r.conditions:
                if c.op == OP_EQ:
                    v = str(c.value)
                    if any(d in v for d in ",&:"):
                        raise ValueError(
                            f"categorical value {v!r} contains a wire-"
                            "format delimiter (one of ',', '&', ':') and"
                            " cannot be rendered unambiguously"
                        )
                    if v.startswith(OP_LE) or v.startswith(OP_GT):
                        raise ValueError(
                            f"categorical value {v!r} starts with a "
                            "numeric half-space marker ('<=' or '>') and"
                            " would re-parse as a numeric condition"
                        )
            if r.label and any(d in r.label for d in ",&:"):
                raise ValueError(
                    f"label {r.label!r} contains a wire-format delimiter"
                    " (one of ',', '&', ':') and cannot be rendered"
                    " unambiguously"
                )
            conds = "&".join(
                f"{aid[c.attr]},"
                + (
                    str(c.value)
                    if c.op == OP_EQ
                    else f"{c.op}{float(c.value)!r}"
                )
                for c in r.conditions
            )
            lines.append(f"{conds}:{r.label or ''}")
        return lines

    @classmethod
    def from_reference_text(
        cls,
        lines: list[str],
        attr_order: list[str],
        label_col: str = "label",
    ) -> "DecisionListModel":
        """Parse the reference wire format back into a model
        (`Rule.java:37-56`). Numeric synthetic values ``<=b`` / ``>b``
        become proper half-space conditions, parsing the FULL boundary —
        the reference's own re-parse truncates its last character
        (quirk Q1, `MyMapper.java:97-100`), which we deliberately do
        not replicate."""
        rules = []
        for line in lines:
            conds_s, _, label = line.rpartition(":")
            conditions = []
            if conds_s:
                for item in conds_s.split("&"):
                    i, _, val = item.partition(",")
                    attr = attr_order[int(i)]
                    if val.startswith(OP_LE):
                        conditions.append(
                            Condition(attr, OP_LE, float(val[len(OP_LE):]))
                        )
                    elif val.startswith(OP_GT):
                        conditions.append(
                            Condition(attr, OP_GT, float(val[len(OP_GT):]))
                        )
                    else:
                        conditions.append(Condition(attr, OP_EQ, val))
            rules.append(Rule(tuple(conditions), label or None))
        return cls(rules=rules, label_col=label_col)

    def save(self, path: str) -> None:
        """Persist the model — the reference only prints it to stdout
        (`Main.java:128-131`)."""
        from pathlib import Path

        Path(path).write_text(self.to_json())

    @classmethod
    def load(cls, path: str, label_col: str = "label") -> "DecisionListModel":
        from pathlib import Path

        return cls.from_json(Path(path).read_text(), label_col)


#: the synthetic categorical value null features map to under
#: ``train(nulls="missing")`` — double-underscored so it cannot collide
#: with the lowercase-tokenized value space of real data
MISSING_CATEGORY = "__missing__"


# Spark SQL rendering. Every expression whose size grows with max_bins,
# the rule count or the frontier is written as SQL text and parsed by
# ONE ``F.expr`` call: a Column built from ``F.lit``/``F.when`` objects
# costs py4j round trips per literal or per condition (``F.lit(list)``
# is one ``lit`` call per element), and at a 600-node level those round
# trips, not Spark, were the training run's driver time.


def _sql_lit(v) -> str:
    """Spark SQL text that parses back to exactly ``v``.

    Doubles print as ``repr`` + ``D`` (shortest round-trip digits; a bare
    ``3.5`` parses as DECIMAL and would change the comparison's
    coercion); NaN and ±Infinity, which have no literal syntax, as
    ``CAST('NaN' AS DOUBLE)`` etc. Strings are single-quoted with ``\\``
    and ``'`` backslash-escaped — Spark SQL reads backslash escapes, so
    an unescaped ``a\\tb`` would parse as a TAB. ``None`` is NULL; ints
    print as integers."""
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        return str(int(v))
    f = float(v)
    if math.isnan(f):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(f):
        return f"CAST('{'' if f > 0 else '-'}Infinity' AS DOUBLE)"
    return f"{f!r}D"


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_array(values) -> str:
    return "array(" + ", ".join(_sql_lit(v) for v in values) + ")"


def _spark_cond_sql(cond: Condition) -> str:
    """Spark-SQL text of one Condition, semantically identical to
    ``cond.column()``. (``Condition.sql()`` is the DuckDB dialect —
    double-quoted identifiers Spark only accepts under
    ansi.doubleQuotedIdentifiers, and no backslash escapes.)"""
    if cond.op == OP_EQ:
        return f"{_sql_ident(cond.attr)} = {_sql_lit(str(cond.value))}"
    return f"{_sql_ident(cond.attr)} {cond.op} {_sql_lit(float(cond.value))}"


def _trie_sql(
    rules: list[tuple[tuple[Condition, ...], str | None]],
    default: str | None,
) -> str:
    """Nested CASE text of the decision-list trie: rules sharing a first
    condition share one WHEN, whose THEN is the trie of their remaining
    conditions; a node no WHEN matches yields ``default``."""
    exact = [label for conds, label in rules if not conds]
    if exact:
        # a fully-matched rule: leaves partition the space, so there is
        # at most one
        return _sql_lit(exact[0])
    groups: dict[Condition, list] = {}
    for conds, label in rules:
        groups.setdefault(conds[0], []).append((conds[1:], label))
    if not groups:
        return _sql_lit(default)
    whens = " ".join(
        f"WHEN {_spark_cond_sql(cond)} THEN {_trie_sql(sub, default)}"
        for cond, sub in groups.items()
    )
    return f"CASE {whens} ELSE {_sql_lit(default)} END"


#: most rows one prologue histogram may bring to the driver (see
#: :func:`_prologue_scan`)
_PROLOGUE_MAX_ROWS = 1 << 20


def _bucket_sql(x: str, bits: int = 9) -> str:
    """SQL text of the DOUBLE expression ``x`` rounded to ``bits``
    significant bits (9 ≤ bits ≤ 51): 2^(bits-1) buckets per octave.

    The rounding is Veltkamp's split, ``g - (g - x)`` with
    ``g = x·(2^(53-bits) + 1)``: multiplications and subtractions only,
    with no libm call, so it is the same in any IEEE-754 binary64
    arithmetic. It rounds to nearest, so the key never decreases as
    ``x`` grows and a bucket is an interval of values. Magnitudes where
    ``g`` would overflow (≥ 2⁹⁶⁰) or the split underflow (< 2⁻⁹⁶⁰) are
    scaled by an exact power of two first; ±inf and NaN are their own
    keys."""

    def split(y: str) -> str:
        g = f"({y}) * {_sql_lit(2.0 ** (53 - bits) + 1)}"
        return f"({g} - ({g} - ({y})))"

    up, down = _sql_lit(2.0**100), _sql_lit(2.0**-100)
    return (
        f"CASE WHEN abs({x}) < {_sql_lit(2.0**-960)}"
        f" THEN {split(f'{x} * {up}')} * {down}"
        f" WHEN abs({x}) < {_sql_lit(2.0**960)} THEN {split(x)}"
        f" WHEN abs({x}) < {_sql_lit(math.inf)}"
        f" THEN {split(f'{x} * {down}')} * {up}"
        f" ELSE {x} END"
    )


def _prologue_scan(
    base: DataFrame,
    *,
    nulls: str,
    cat_names: list[str],
    num_names: list[str],
    label: str,
    cat_domains: dict[str, list[str]],
    max_bins: int,
    max_rows: int = _PROLOGUE_MAX_ROWS,
) -> tuple[DataFrame, dict[str, list[float]], dict[str, int]]:
    """ONE grouped aggregate over the training projection computing
    everything ``train()`` needs before level 0: per-column null counts
    (the missing-value audit), and per-numeric-attribute split
    candidates.

    Returns ``(base', edges, dirty)`` where ``base'`` has the null
    policy applied (untouched when clean — bit-identical plan),
    ``edges`` maps each numeric attribute to ≤ max_bins+1 candidate
    boundaries, and ``dirty`` maps each feature holding NULLs to its
    null count.

    The candidates are exact quantiles: of a column's n non-null
    values, edge j (j = 0..max_bins) is the ⌈j·n/max_bins⌉-th smallest
    (the smallest for j = 0), duplicates collapsed. They are a pure
    function of the column's multiset of values, so partitioning, row
    order and uniform K× duplication leave them — and the model —
    unchanged (the reference's candidates, every distinct value, have
    the same property, `MyReducer.java:140-144`). Each edge is an actual
    data value, which ``_snap_numeric``'s exactness argument needs.
    Under ``nulls='missing'`` numeric NULLs are imputed with the median,
    the ⌈n/2⌉-th smallest value.

    The order statistics are read off histograms: grouped aggregates
    over the ``stack``ed columns keyed by (column, key), computing
    count(*), count(v), min(v) and max(v), whose ranks the driver
    compares in exact integers. No histogram brings more than
    ``max_rows`` rows to the driver, whatever the row count: each is
    collected through ``limit(max_rows + 1)`` and its size checked. The
    first keys each value by itself; when the columns hold ≤
    ``max_rows`` distinct values between them, it and the null counts
    are the whole prologue. Otherwise a second keys each value by its
    9-bit rounding (:func:`_bucket_sql`, 256 buckets per octave). An
    order statistic whose bucket holds a single value is then known;
    the others are refined by aggregates over just the rows of their
    buckets, each at a rounding fine enough to make progress and coarse
    enough to fit ``max_rows``, until every bucket holding one is a
    single value.

    One aggregate serves the null audit, the row counts and the
    candidates, trading a little per-row CPU for two passes that
    separate actions would cost. ``train()`` hands in its materialized
    checkpoint, so every pass here reads memory blocks, never the
    source."""
    if nulls not in ("reject", "missing", "fractional"):
        raise ValueError(
            "nulls must be 'reject', 'missing' or 'fractional', "
            f"got {nulls!r}"
        )
    if max_rows < 8:
        raise ValueError(f"max_rows must be at least 8, got {max_rows}")
    cols = num_names + cat_names + [label]
    n_num = len(num_names)
    xs = [f"CAST({_sql_ident(c)} AS DOUBLE)" for c in num_names]
    null_d = "CAST(NULL AS DOUBLE)"
    # categorical and label columns contribute their NULL rows only
    null_entries = [
        (f"if({_sql_ident(c)} IS NULL, {i}, NULL)", null_d, null_d)
        for i, c in enumerate(cols[n_num:], n_num)
    ]

    def histogram(df: DataFrame, entries: list[tuple[str, str, str]]):
        """(group j, key k, rows, n, lo, hi) per (j, k) of the stacked
        (j, k, v) entries, or None when it has more than max_rows."""
        h = (
            df.selectExpr(
                f"stack({len(entries)}, {', '.join(map(', '.join, entries))})"
                " AS (j, k, v)"
            )
            .where("j IS NOT NULL")
            .groupBy("j", "k")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count("v").alias("n"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .limit(max_rows + 1)
            .toPandas()
        )
        return h if len(h) <= max_rows else None

    def too_big(what: str) -> RuntimeError:
        return RuntimeError(
            f"split-candidate histogram over {max_rows} rows {what}"
        )

    hist = histogram(
        base, [(str(i), x, x) for i, x in enumerate(xs)] + null_entries
    )
    bits = 9
    if hist is None:
        hist = histogram(
            base,
            [(str(i), _bucket_sql(x, bits), x) for i, x in enumerate(xs)]
            + null_entries,
        )
        if hist is None:
            raise too_big(f"at {2 ** (bits - 1)} buckets per octave")
    nulls_by = (hist["rows"] - hist["n"]).groupby(hist["j"]).sum()
    counts = {c: int(nulls_by.get(i, 0)) for i, c in enumerate(cols)}
    hist = hist[hist["n"] > 0]
    # per numeric column: the ranks of the picks j/max_bins
    # (j = 0..max_bins) and, last, of the median; vals fills in their
    # values
    ranks, vals = {}, {}
    for i, n in hist.groupby("j")["n"].sum().items():
        n = int(n)
        ranks[i] = np.array(
            [max(1, -(-j * n // max_bins)) for j in range(max_bins + 1)]
            + [-(-n // 2)]
        )
        vals[i] = np.empty(len(ranks[i]))

    def resolve(hist, items: dict, bits: int) -> list[tuple]:
        """Settle each item's picks from its rows of ``hist``; return the
        (column, lo, hi, rows below lo, rows, picks, bits) items of the
        buckets that hold a pick and more than one value."""
        out = []
        for j, g in hist.groupby("j"):
            i, below, idx = items[j]
            g = g.sort_values("k", na_position="last")
            cum = g["n"].to_numpy().cumsum()
            # + 0.0 turns a -0.0 into 0.0 (max does not order the two)
            lo, hi = g["lo"].to_numpy(), g["hi"].to_numpy() + 0.0
            at = np.searchsorted(cum, ranks[i][idx] - below)
            for t in np.unique(at):
                picks = idx[at == t]
                if lo[t] < hi[t]:
                    skip = int(cum[t - 1]) if t else 0
                    out.append((i, lo[t], hi[t], below + skip,
                                int(cum[t]) - skip, picks, bits))
                else:  # one value (a NaN bucket too: NaN < NaN is false)
                    vals[i][picks] = hi[t]
        return out

    items = resolve(
        hist, {i: (i, 0, np.arange(len(r))) for i, r in ranks.items()}, bits
    )
    while items:
        # refine a batch of the coarsest items. A bucket of b bits holds
        # ≤ 2^(54-b) distinct doubles and meets ≤ 2^(s+1) buckets of
        # b+s bits, so each item of the batch brings ≤ cap rows
        items.sort(key=lambda it: it[6])
        bits = items[0][6]
        batch = [it for it in items[: max_rows // 8] if it[6] == bits]
        items = items[len(batch):]
        cap = max_rows // len(batch)
        exact = (
            sum(it[4] for it in batch) <= max_rows or 2 ** (54 - bits) <= cap
        )
        if not exact:
            bits = min(51, bits + int(math.log2(cap)) - 1)
        entries = []
        for i, x in enumerate(xs):
            whens = " ".join(
                f"WHEN {x} BETWEEN {_sql_lit(lo)} AND {_sql_lit(hi)}"
                f" THEN {j}"
                for j, (c, lo, hi, *_) in enumerate(batch)
                if c == i
            )
            if whens:
                key = x if exact else _bucket_sql(x, bits)
                entries.append((f"CASE {whens} END", key, x))
        hist = histogram(base, entries)
        if hist is None:
            raise too_big(f"refining {len(batch)} buckets")
        items += resolve(
            hist, {j: (it[0], it[3], it[5]) for j, it in enumerate(batch)},
            bits,
        )
    edges = {c: [] for c in num_names}
    medians: dict[str, float] = {}
    for i, v in vals.items():
        edges[num_names[i]] = np.unique(v[:-1]).tolist()
        medians[num_names[i]] = float(v[-1])
    if counts[label] > 0:
        raise ValueError(
            f"{counts[label]} rows have a NULL label ({label}); "
            "training cannot proceed under any nulls policy"
        )
    dirty = {c: n for c, n in counts.items() if c != label and n > 0}
    if not dirty or nulls == "fractional":
        # fractional (operators/fractional.py) keeps nulls null — the
        # rid update distributes their weight; edges over known values
        return base, edges, dirty
    if nulls == "reject":
        raise ValueError(
            "training features contain NULLs "
            f"({', '.join(f'{c}: {n}' for c, n in sorted(dirty.items()))}); "
            "pass train(..., nulls='missing') to branch/impute them"
        )
    cat_dirty = [c for c in cat_names if c in dirty]
    num_dirty = [c for c in num_names if c in dirty]
    if cat_dirty:
        base = base.fillna({c: MISSING_CATEGORY for c in cat_dirty})
        for c in cat_dirty:
            cat_domains[c].append(MISSING_CATEGORY)
    if num_dirty:
        empty = [c for c in num_dirty if c not in medians]
        if empty:
            raise ValueError(
                f"numeric feature(s) entirely NULL: {', '.join(empty)}; "
                "no median exists to impute — drop the column instead"
            )
        base = base.fillna({c: medians[c] for c in num_dirty})
    return base, edges, dirty


def _rid_column(frontier: list[Rule]) -> Column:
    """Compile the frontier into a single CASE WHEN producing the matching
    rule id — the Spark-side replacement for broadcasting the queue file
    and testing every rule per row (`MyMapper.java:33-35,63-85`)."""
    expr = F.lit(None).cast("int")
    for i, r in reversed(list(enumerate(frontier))):
        expr = F.when(r.predicate(), F.lit(i)).otherwise(expr)
    return expr


def _snap_numeric(
    df: DataFrame, edges_by_attr: dict[str, list[float]]
) -> DataFrame:
    """Quantile-bin numeric attributes to the given split candidates —
    the MLlib-style move that keeps per-level statistics bounded when a
    column is near-all-distinct (the reference instead buffers and scans
    every distinct value in reducer RAM, `MyReducer.java:112-205`).

    Every value is snapped UP to the smallest quantile edge ≥ it. Because
    edges are actual data values and ``v <= e  ⟺  snap(v) <= e`` for any
    edge ``e``, cumulative class counts at every surviving candidate
    boundary stay *exact* — binning only restricts the candidate set, it
    never distorts a candidate's entropy. At 100 TB this is what bounds
    the shuffle: ≤ max_bins rows per (node, attribute) regardless of data
    volume.

    The whole projection is ONE ``selectExpr`` whose edge arrays are SQL
    text (:func:`_sql_array`), so its py4j cost is per column, not per
    edge: ``F.lit(edges)`` builds the array from one ``lit`` round trip
    per element, max_bins+1 of them per numeric attribute."""
    if not edges_by_attr:
        return df
    dtypes = dict(df.dtypes)
    # the filter lambda's variable shadows a column of the same name
    # inside the lambda body, so it must not be one of them
    lv = "e"
    while lv.lower() in {c.lower() for c in df.columns}:
        lv = "_" + lv
    exprs = []
    for c in df.columns:
        col = _sql_ident(c)
        edges = edges_by_attr.get(c)
        if not edges:
            exprs.append(col)
            continue
        above = f"filter({_sql_array(edges)}, {lv} -> {lv} >= {col})"
        # values above the top edge (none for the prologue's edges, whose
        # top is the column max) keep their own value so ordering
        # semantics never break
        exprs.append(
            f"CAST(coalesce(array_min({above}), {col}) AS {dtypes[c]})"
            f" AS {col}"
        )
    return df.selectExpr(*exprs)


def train(
    df: DataFrame,
    schema: TrainingSchema,
    max_depth: int = 8,
    min_ratio: float = 0.1,
    min_rows: int = 2,
    max_bins: int = 256,
    driver_stats_max_rows: int = _DRIVER_STATS_MAX_ROWS,
    bug_compat: bool = False,
    prune: bool = False,
    prune_cf: float = 0.25,
    nulls: str = "reject",
) -> DecisionListModel:
    """Grow a C4.5 tree level-synchronously; return the decision list.

    ``bug_compat=True`` abandons this trainer's documented fixes and
    reproduces the reference AS BUILT — quirks Q1-Q5 included — via
    :func:`operators.bug_compat.train_reference_compat`, returning its
    :class:`ReferenceCompatModel` (whose ``stdout_lines()`` is byte-
    identical to the reference's final decision-list print,
    `Main.java:128-131`). All other keyword arguments are ignored in
    that mode: the reference has no depth cap, no min-rows guard beyond
    its hard-coded 10% numeric rule, and no binning.

    ``prune=True`` follows growth with C4.5's error-based pruning
    post-pass at confidence ``prune_cf`` (operators/pruning.py — the
    phase the reference omits entirely; its loop ends at the grown
    tree, `Main.java:123-131`).

    ``nulls`` is the missing-value policy. The reference has NO null
    concept (a missing TSV field shifts columns and corrupts the row,
    SURVEY §1.1); naively, a null in a chosen split attribute would
    silently drop the row mid-tree (no child predicate matches), so the
    policy is explicit: ``"reject"`` (default) fails fast with per-column
    null counts from one cheap audit aggregate; ``"missing"`` makes
    categorical nulls their own ``__missing__`` branch (appended to the
    declared domain, so the tree can SPLIT on missingness — it is often
    informative) and imputes numeric nulls with the column's median,
    its ⌈n/2⌉-th smallest non-null value (a null carries no ordering
    information for a threshold split); ``"fractional"`` runs
    the actual Quinlan C4.5 semantics (operators/fractional.py):
    known-fraction gain scaling, an unknown pseudo-branch in the split
    information, and rows with an unknown split attribute routed to
    every child with weight proportional to the observed branch masses,
    so leaf ``n`` and ``hist`` become fractional masses. It grows the
    tree in this same level loop, with a row-weight column added only
    when the prologue finds a NULL feature. A label null is always an
    error. With no nulls present, all three policies leave the data,
    domains, plan and resulting model identical (pinned in
    tests/test_fractional.py).

    One Spark action and ONE data-sized exchange per level: the mixed
    melt + grouped count; class histograms, categorical gain ratios and
    numeric best-splits all derive from that contingency. When the
    contingency's row bound is ≤ ``driver_stats_max_rows``, it is
    collected via Arrow and reduced in numpy (see
    :func:`_driver_level_stats`); otherwise the reduction runs
    distributed and the collected result is ≤ |frontier|×|attrs| rows.
    The bound is the declared product |frontier| × |classes| × (1 + Σ
    domains + Σ bins), which binning keeps independent of data volume;
    on unweighted levels below the root it is the smaller of that and
    the rows still alive × (1 + |features|), since each row adds at
    most that many contingency rows. So the wide 600-node level of a
    small table stays on the driver, and moves to the distributed
    reduction only when its rows alive × (1 + |features|) pass the
    bound.
    """
    if bug_compat:
        from c4_5decisiontreebasedonmapreduce_spark.operators.bug_compat import (
            train_reference_compat,
        )

        return train_reference_compat(df, schema)
    if nulls == "fractional" and prune:
        # pruning operates on integer leaf histograms, so the combination
        # is rejected rather than wrong
        raise ValueError(
            "prune=True is not supported with nulls='fractional' "
            "(EBP needs integer leaf histograms)"
        )
    attr_order = [a.name for a in schema.features]
    cat_names = [a.name for a in schema.categorical]
    num_names = [a.name for a in schema.numeric]
    cat_domains = {a.name: list(a.domain) for a in schema.categorical}
    label_domain = list(schema.label_domain)

    spark = df.sparkSession
    base = df.select(*attr_order, schema.label)
    # the source is read ONCE: a small parquet scan may yield very few
    # partitions, and every later pass would then run on that many
    # cores, so the table is spread across the cluster and materialized
    # here. The prologue (null audit + split candidates in one grouped
    # aggregate, plus refinement passes when the columns hold more
    # distinct values than its collect bound) and level 0 read these
    # memory blocks; the candidates depend on the rows alone, not on
    # their layout.
    par = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    base, edges, dirty = _prologue_scan(
        base.localCheckpoint(eager=True),
        nulls=nulls,
        cat_names=cat_names,
        num_names=num_names,
        label=schema.label,
        cat_domains=cat_domains,  # mutated: missing category appended
        max_bins=max_bins,
    )
    base = _snap_numeric(base, edges)
    # Quinlan-fractional rows carry a weight only when some feature is
    # NULL: a clean table keeps the count(*) plan and its rid update
    weight = FR.W if nulls == "fractional" and dirty else None
    unknown = set(dirty) if weight else set()

    # per-level shuffles carry combined counts (≤ nodes×attrs×bins rows);
    # a handful of reduce partitions beats the session default — AQE
    # coalesces eventually, but the static setting skips the extra
    # scheduling rounds on these tiny exchanges. Restored on exit.
    shuffle_key = "spark.sql.shuffle.partitions"
    prev_shuffle = spark.conf.get(shuffle_key)

    model = DecisionListModel(rules=[], label_col=schema.label)
    frontier: list[Rule] = [Rule()]  # root: empty conjunction

    # node-id as a MATERIALIZED column updated incrementally per level
    # (MLlib's NodeIdCache pattern): each level's plan carries only that
    # level's split conditions instead of every root-to-frontier
    # conjunction — a flat frontier CASE WHEN grows with the full rule
    # set and at depth ≥8 overflows JVM method-size limits (codegen
    # fallback → interpreted row scans). The per-level checkpoint
    # (_grow_levels) also truncates the max_bins-literal snap lineage
    # (MLlib's iterative trainers checkpoint for the same reason). Leaf
    # rows drop out as they resolve, so later levels scan strictly less
    # data.
    level = base.withColumn(S.RID, F.lit(0).cast("int"))
    if weight:
        level = level.withColumn(weight, F.lit(1).cast(FR.W_TYPE))

    # per-node contingency row bound for the driver-side stats path:
    # classes × (1 cc pseudo-attr + Σ cat domains + Σ numeric edge
    # counts). Uses the DECLARED label domain: when data carries labels
    # outside it (possible only with a hand-written attributes file —
    # inferred schemas derive the domain from the data), the categorical
    # contingency still keeps those rows, so the realized transfer is
    # this same product with the TRUE class count — still
    # frontier × domain-sized, never data-sized; the guard's purpose
    # (bounding the Arrow collect) holds either way. An attribute with
    # unknown mass adds its NULL group.
    stat_rows_per_node = len(label_domain) * (
        1
        + sum(len(d) + (a in unknown) for a, d in cat_domains.items())
        + sum(len(e) + (a in unknown) for a, e in edges.items())
    )

    try:
        spark.conf.set(shuffle_key, "8")
        _grow_levels(
            model=model,
            level=level,
            frontier=frontier,
            schema=schema,
            cat_names=cat_names,
            num_names=num_names,
            cat_domains=cat_domains,
            label_domain=label_domain,
            attr_order=attr_order,
            max_depth=max_depth,
            min_ratio=min_ratio,
            min_rows=min_rows,
            stat_rows_per_node=stat_rows_per_node,
            driver_stats_max_rows=driver_stats_max_rows,
            weight=weight,
        )
    finally:
        spark.conf.set(shuffle_key, prev_shuffle)
    if prune:
        # C4.5's error-based pruning post-pass (the reference has none —
        # operators/pruning.py): driver-side math over the finished
        # rules, zero additional Spark jobs at any scale.
        from c4_5decisiontreebasedonmapreduce_spark.operators.pruning import (
            ebp_prune,
        )

        return ebp_prune(model, cf=prune_cf)
    return model


def _level_rels(
    level: DataFrame,
    cont: DataFrame | None,
    *,
    cat_names: list[str],
    num_names: list[str],
    label: str,
    label_domain: list[str],
    min_ratio: float,
    hist_only: bool,
    weight: str | None = None,
) -> list[DataFrame]:
    """One level's statistics relations, uniformly projected to
    ``(kind, rid, aid, gain_ratio, boundary)`` so class histograms,
    categorical gain ratios and numeric best-splits all ride ONE action,
    reduced from the level's contingency ``cont``.

    ``hist_only`` (every node at this level is leaf-bound, i.e. the
    max-depth level) skips the attribute melt entirely: the deepest
    level has the widest frontier, so this drops the single largest
    shuffle of the whole training run down to a plain
    ``groupBy(rid, class)`` — the melt multiplies rows by |attrs|+1,
    and none of those stats can ever be used at a depth-capped node.

    With a row ``weight`` (Quinlan-fractional), ``cont`` holds DECIMAL
    masses with NULL values as their own groups; the reductions read
    the masses as doubles and take their Info, unknown mass and known
    fraction per (node, attribute) from :func:`c45_stats.attribute_info`."""
    none_d = F.lit(None).cast("double")
    if hist_only:
        mass = F.sum(weight) if weight else F.count("*")
        cc = level.groupBy(S.RID, F.col(label).alias(S.CLASS)).agg(
            mass.alias(S.CNT)
        )
        return [
            cc.select(
                F.lit("cc").alias("kind"),
                S.RID,
                F.col(S.CLASS).alias(S.AID),
                F.col(S.CNT).cast("double").alias("gain_ratio"),
                none_d.alias("boundary"),
            )
        ]
    info_df = None
    if weight:
        cont = cont.withColumn(S.CNT, F.col(S.CNT).cast("double"))
        info_df = S.attribute_info(cont, cat_names, label_domain)
        # the stats builders see known values only, as unweighted
        cont = S._drop_unknown(cont)
    cc_counts = cont.where(F.col(S.AID) == S.CC_AID).select(
        S.RID, S.CLASS, S.CNT
    )
    if info_df is None:
        info_df = S.node_info(cc_counts)  # broadcast — reused by both stats
    rels = [
        cc_counts.select(
            F.lit("cc").alias("kind"),
            S.RID,
            F.col(S.CLASS).alias(S.AID),
            F.col(S.CNT).cast("double").alias("gain_ratio"),
            none_d.alias("boundary"),
        )
    ]
    stats_parts = []
    if cat_names:
        cont_c = cont.where(F.col(S.AID).isin(cat_names)).select(
            S.RID, S.AID, F.col("value_s").alias(S.VALUE), S.CLASS, S.CNT
        )
        stats_parts.append(
            S.categorical_stats(cont_c, info_df).select(
                S.RID, S.AID, "gain_ratio", none_d.alias("boundary")
            )
        )
    if num_names:
        cont_n = cont.where(F.col(S.AID).isin(num_names)).select(
            S.RID, S.AID, F.col("value_d").alias(S.VALUE), S.CLASS, S.CNT
        )
        stats_parts.append(
            S.numeric_best_split(
                # binning caps groups at max_bins rows, so the plain
                # per-group window beats the bucketed prefix sum here
                cont_n, info_df, label_domain, min_ratio, bucketed=False
            ).select(S.RID, S.AID, "gain_ratio", "boundary")
        )
    stats = stats_parts[0]
    for part in stats_parts[1:]:
        stats = stats.unionByName(part)
    rels.append(
        stats.select(
            F.lit("st").alias("kind"), S.RID, S.AID, "gain_ratio", "boundary"
        )
    )
    return rels


def _decide_level(
    model: "DecisionListModel",
    frontier: list["Rule"],
    hist: dict[int, dict[str, int | float]],
    stats: dict[int, list],
    *,
    attr_order: list[str],
    cat_domains: dict[str, list[str]],
    label_domain: list[str],
    max_depth: int,
    min_rows: int,
    best: dict[int, tuple] | None = None,
) -> tuple[list["Rule"], list[tuple[int, list]]]:
    """Turn one level's collected statistics into leaves + splits.

    When ``best`` is given (the collected in-plan argmax) the split
    choice comes from it verbatim — the same relation that keyed the
    child level's statistics, so structure and stats can never disagree.
    Otherwise the classic driver-side argmax runs: gain_ratio > 0 only
    (the reference inits maxGR = 0, `Main.java:258-261`), skipping
    attributes exhausted by the rule, ties by declaration order.

    A leaf records its class masses as collected — row counts, or
    fractional masses under ``nulls='fractional'`` — and its ``n`` is
    their sum."""
    next_frontier: list[Rule] = []
    splits: list[tuple[int, list[tuple[Condition, int]]]] = []
    attr_rank = {a: i for i, a in enumerate(attr_order)}
    for i, rule in enumerate(frontier):
        h = hist.get(i)
        if not h:  # no rows reached this node (empty domain value)
            label = _majority(
                _parent_hist(hist, frontier, i) or {}, label_domain
            )
            model.rules.append(Rule(rule.conditions, label, 0, rule.depth))
            continue
        leaf_hist = tuple(sorted(h.items()))
        total = sum(v for _, v in leaf_hist)
        choice: tuple | None = None
        if best is not None:
            choice = best.get(i)
        elif not (
            len(h) == 1 or total < min_rows or rule.depth >= max_depth
        ):
            used = rule.used_attrs()
            # quantize before the argmax: the driver (numpy) and
            # distributed (JVM) stats paths agree formula-for-formula
            # but can differ in the last ulp; a raw float compare could
            # flip the winner on a near-tie depending on which path the
            # frontier-size guard picked. 1e-10 is far above ulp noise
            # and far below any genuine gain-ratio difference.
            cands = [
                (round(r["gain_ratio"], 10), r)
                for r in stats.get(i, [])
                if round(r["gain_ratio"], 10) > 0 and r[S.AID] not in used
            ]
            if cands:
                _, bst = max(
                    cands,
                    key=lambda t: (t[0], -attr_rank[t[1][S.AID]]),
                )
                choice = (bst[S.AID], bst["boundary"])
        if choice is None:
            # pure / too small / depth-capped / no positive gain (or all
            # numeric splits failed the guard): honest majority leaf (Q5)
            model.rules.append(
                Rule(
                    rule.conditions,
                    _majority(h, label_domain),
                    total,
                    rule.depth,
                    hist=leaf_hist,
                )
            )
            continue
        aid, bd = choice
        if bd is not None:
            bd = float(bd)
            conds = [Condition(aid, OP_LE, bd), Condition(aid, OP_GT, bd)]
        else:
            conds = [Condition(aid, OP_EQ, v) for v in cat_domains[aid]]
        children = []
        for c in conds:
            children.append((c, len(next_frontier)))
            next_frontier.append(rule.child(c))
        splits.append((i, children))
    return next_frontier, splits


def _apply_splits(
    level: DataFrame,
    splits: list[tuple[int, list]],
    masses: dict[tuple[int, str], dict] | None = None,
) -> DataFrame:
    """rid update: only this level's split conditions enter the plan.

    Splits are data, not code: three lookup arrays indexed by the
    parent's ``rid`` hold its first child id, the code of its split
    attribute, and (numeric splits) its boundary. A row's new rid is the
    first child id plus its branch offset — the attribute's 0-based
    position in its declared domain (``array_position``) or
    ``value > boundary`` (0 for the ``<=`` child, 1 for ``>``). This
    relies on the shape :func:`_decide_level` gives every split: child
    ids are consecutive, a numeric split's ``<=`` child comes first, and
    a categorical split's children are the attribute's declared domain in
    order, the same list for every parent. The generated code is one
    branch per split ATTRIBUTE, O(|attributes|) whatever the frontier: a
    CASE with one WHEN per condition overflowed Janino's 64 KB method
    limit on a 600-node level, paying a failed compile and then an
    interpreted scan. The whole expression is one SQL string parsed by
    one ``F.expr`` call, so its py4j cost is fixed too.

    ``try_element_at`` yields NULL for a rid past the last parent (leaf
    rids, under ANSI ``element_at`` would raise) and the arrays hold NULL
    for a leaf rid below it; a categorical value outside the domain
    yields NULL as well — such rows drop out by the isNotNull filter, as
    rows no child condition matched always have.

    ``masses`` (Quinlan-fractional: the chosen splits' branch masses)
    adds one more lookup array: per parent, the ``(child id,
    multiplier)`` pairs of :func:`fractional._fan_out`. A row whose split
    attribute is NULL explodes over its parent's entry, its weight
    multiplied; every other row keeps its rid update and its weight.
    Without masses for this level the SQL text is the unweighted one."""
    n_rid = max(parent for parent, _ in splits) + 1
    first: list[int | None] = [None] * n_rid
    code: list[int | None] = [None] * n_rid
    bound: list[float | None] = [None] * n_rid
    codes: dict[str, int] = {}  # split attribute → its code
    domains: dict[str, list[str]] = {}  # categorical split → child values
    for parent, children in splits:
        cond, first[parent] = children[0]
        code[parent] = codes.setdefault(cond.attr, len(codes))
        if cond.op == OP_EQ:
            domains[cond.attr] = [str(c.value) for c, _ in children]
        else:
            bound[parent] = float(cond.value)

    idx = f"{_sql_ident(S.RID)} + 1"
    code_at = f"try_element_at({_sql_array(code)}, {idx})"
    arms = [
        f"WHEN {k} THEN nullif(array_position("
        f"{_sql_array(domains[a])}, {_sql_ident(a)}), 0) - 1"
        for a, k in codes.items()
        if a in domains
    ]
    numeric = [
        # a comparison with a DOUBLE boundary casts the column to DOUBLE
        # whatever its numeric type; casting first lets every numeric
        # attribute share the one boundary lookup
        f"WHEN {k} THEN CAST({_sql_ident(a)} AS DOUBLE)"
        for a, k in codes.items()
        if a not in domains
    ]
    offset = ""
    if numeric:
        value = f"CASE {code_at} {' '.join(numeric)} END"
        above = f"try_element_at({_sql_array(bound)}, {idx})"
        offset = f"CAST(({value}) > {above} AS INT)"
    if arms:
        tail = f" ELSE {offset}" if offset else ""
        offset = f"CASE {code_at} {' '.join(arms)}{tail} END"
    rid_expr = (
        f"CAST(try_element_at({_sql_array(first)}, {idx}) + {offset} AS INT)"
    )
    fan: list[str] = ["NULL"] * n_rid
    for parent, children in splits:
        m = (masses or {}).get((parent, children[0][0].attr))
        routes = FR._fan_out(children, m) if m else []
        if routes:
            fan[parent] = "array(" + ", ".join(
                f"named_struct('cid', {cid}, 'mul', {mul:.12f}BD)"
                for cid, mul in routes
            ) + ")"
    if fan.count("NULL") < n_rid:
        route_t = f"array<struct<cid:int,mul:{FR.MUL_TYPE}>>"
        fans = f"CAST(array({', '.join(fan)}) AS array<{route_t}>)"
        unknown = " ".join(
            f"WHEN {k} THEN {_sql_ident(a)} IS NULL" for a, k in codes.items()
        )
        rid_expr = (
            f"inline(CASE WHEN (CASE {code_at} {unknown} END)"
            f" THEN try_element_at({fans}, {idx})"
            f" ELSE CAST(array(named_struct('cid', {rid_expr}, 'mul', 1BD))"
            f" AS {route_t}) END) AS ({S.RID}, __mul)"
        )
        w = _sql_ident(FR.W)
        rest = [_sql_ident(c) for c in level.columns if c not in (S.RID, FR.W)]
        level = level.selectExpr(*rest, rid_expr, w).selectExpr(
            *rest,
            _sql_ident(S.RID),
            f"CAST({w} * __mul AS {FR.W_TYPE}) AS {w}",
        )
        return level.where(F.col(S.RID).isNotNull())
    return level.withColumn(S.RID, F.expr(rid_expr)).where(
        F.col(S.RID).isNotNull()
    )


def _xlog2x_np(a: np.ndarray) -> np.ndarray:
    """``c*log2(c)`` with 0·log2(0)=0 — numpy twin of functions.entropy."""
    out = np.zeros(np.shape(a))
    np.log2(a, out=out, where=a > 0)
    out *= a
    return out


def _entropy_np(n: np.ndarray, sum_xlog2x: np.ndarray) -> np.ndarray:
    """``log2(n) - Σc·log2(c)/n`` per element, 0 where ``n`` is 0 —
    numpy twin of entropy_from_counts."""
    pos = n > 0
    safe = np.where(pos, n, 1.0)
    return np.where(pos, np.log2(safe) - sum_xlog2x / safe, 0.0)


def _gain_ratio_np(
    info: np.ndarray, entr: np.ndarray, split_info: np.ndarray
) -> np.ndarray:
    """Numpy twin of :func:`c45_stats._gain_ratio_col` (incl. the
    reference's SplitI == 0 special case, `MyReducer.java:282-298`)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        gr = np.maximum(0.0, info - entr) / split_info
    return np.where(split_info == 0.0, np.where(info == 0.0, 0.0, 0.00001), gr)


def _runs(*keys: np.ndarray) -> np.ndarray:
    """For rows sorted by ``keys``: True where a run of equal key tuples
    starts. Floats compare by ``!=``, so -0.0 and 0.0 share a run, as
    they share a group in Spark and in ``np.unique``."""
    start = np.zeros(len(keys[0]), dtype=bool)
    start[:1] = True
    for k in keys:
        start[1:] |= k[1:] != k[:-1]
    return start


def _run_cumsum(a: np.ndarray, start: np.ndarray) -> np.ndarray:
    """``np.cumsum(axis=0)`` of ``a`` within each run of rows that
    ``start`` opens, bit for bit, in place: each pass adds row j of
    every run at once, so there are as many passes as the longest run
    has rows (at most the split candidates of one attribute), not one
    per run."""
    out = a
    i = np.arange(len(start))
    pos = i - np.maximum.accumulate(np.where(start, i, 0))
    order = np.argsort(pos, kind="stable")
    bounds = np.searchsorted(pos[order], np.arange(1, pos.max(initial=0) + 2))
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        rows = order[lo:hi]
        out[rows] += out[rows - 1]
    return out


def _driver_level_stats(
    pdf,
    *,
    cat_names: list[str],
    num_names: list[str],
    label_domain: list[str],
    min_ratio: float,
) -> tuple[dict[int, dict], dict[int, list], dict[tuple[int, str], dict]]:
    """Gain ratios + numeric best-splits computed driver-side from one
    level's collected contingency (``(rid, aid, value_s, value_d, class,
    cnt)`` rows, bounded — see ``_DRIVER_STATS_MAX_ROWS``).

    Numerically mirrors the distributed builders in
    :mod:`c45_stats` formula-for-formula (categorical_stats /
    numeric_best_split / node_info / attribute_info);
    ``test_tree_golden`` and the forced-distributed equivalence tests
    pin the two paths to the same model. Returns the same ``(hist,
    stats)`` shapes :func:`_decide_level` consumes from the collected
    distributed rows, plus ``masses``: the branch masses
    (``by_value``, or the best boundary's ``n_le``; ``n_known``) of
    every (node, attribute) holding NULL values, for the rid update.

    One vectorized pass per attribute kind, whatever the number of
    (node, attribute) groups: the rows are sorted by (rid, aid, value,
    class), and every per-group sum is a ``bincount`` over run ids. A
    numeric attribute's per-value class masses form one dense matrix
    over the declared classes whose running sums restart at each group;
    the best boundary is the first minimum of the conditional entropy
    over the candidates that pass the minimum-side guard
    (minDataRatio, `MyReducer.java:34`), so ties go to the smaller
    boundary, as the distributed struct-min has it. Each group's
    numbers depend on its own rows only, so two attributes with equal
    contingencies tie exactly, whichever groups surround them.

    Rows with a NULL value (a weighted contingency's) are their (node,
    attribute)'s unknown mass ``u``: Info is taken over the known rows,
    the gain ratio is scaled by the known fraction ``n / (n + u)``, and
    ``u`` is one more split-info branch. At ``u = 0`` each term is
    exactly neutral — the known rows' Info is the node's, the fraction
    is 1.0, ``xlog2x(0)`` is 0 — so the numbers are the unweighted
    ones bit for bit. A NaN ``value_d`` reads as NULL, since Arrow
    brings both back as NaN.
    """
    hist: dict[int, dict] = {}
    cc = pdf[pdf[S.AID] == S.CC_AID]
    for rid, cls, cnt in zip(cc[S.RID], cc[S.CLASS], cc[S.CNT].tolist()):
        hist.setdefault(int(rid), {})[cls] = cnt
    node_rid, node_at = np.unique(
        cc[S.RID].to_numpy(np.int64), return_inverse=True
    )
    w = cc[S.CNT].to_numpy(np.float64)
    node_info = _entropy_np(
        np.bincount(node_at, w), np.bincount(node_at, _xlog2x_np(w))
    )

    stats: dict[int, list] = {}
    masses: dict[tuple[int, str], dict] = {}

    def rows(names: list[str], col: str, classes: list[str] | None = None):
        """``names``' rows with a known value (of ``classes`` only, when
        given): their (rid, aid) keys ``rid·|names| + aid``, values,
        classes and masses; plus the sorted keys holding NULL values and
        their unknown mass (of ``classes`` only, when given)."""
        sel = pdf[S.AID].isin(names).to_numpy()
        key = pdf[S.RID].to_numpy(np.int64)[sel] * len(names) + pd.Categorical(
            pdf[S.AID][sel], categories=names
        ).codes
        value = pdf[col].to_numpy()[sel]
        cls = pdf[S.CLASS].to_numpy()[sel]
        cnt = pdf[S.CNT][sel]
        null = pd.isna(value)
        known = ~null
        u = cnt[null]
        if classes is not None:
            ok = pd.Series(cls).isin(classes).to_numpy()
            u = u.where(ok[null], 0.0)
            known &= ok
        u = u.groupby(key[null]).sum()
        return (
            key[known],
            value[known],
            cls[known],
            cnt.to_numpy(np.float64)[known],
            u.index.to_numpy(np.int64),
            u.to_numpy(np.float64),
        )

    def unknown(ukey, umass, skey):
        """Per group key: its unknown mass, and whether it has NULL rows."""
        at = np.searchsorted(ukey, skey)
        has = np.append(ukey, -1)[at] == skey
        return np.where(has, np.append(umass, 0.0)[at], 0.0), has

    def pair(names: list[str], key: int) -> tuple[int, str]:
        return key // len(names), names[key % len(names)]

    def emit(names, skey, gr, boundary) -> None:
        for key, g, b in zip(skey.tolist(), gr.tolist(), boundary):
            rid, aid = pair(names, key)
            stats.setdefault(rid, []).append(
                {S.AID: aid, "gain_ratio": g, "boundary": b}
            )

    def info_of(skey, width):
        return node_info[np.searchsorted(node_rid, skey // width)]

    if cat_names:
        key, value, cls, w, ukey, umass = rows(cat_names, "value_s")
        # the distributed categorical path aggregates over every class
        # PRESENT (no pivot over label_domain) — mirrored by coding the
        # classes the rows hold, not the domain
        value, values = pd.factorize(value, sort=True)
        cls, classes = pd.factorize(cls, sort=True)
        o = np.lexsort((cls, value, key))
        key, value, cls, w = key[o], value[o], cls[o], w[o]
        seg0, val0, cell0 = _runs(key), _runs(key, value), _runs(key, value, cls)
        x = np.bincount(np.cumsum(cell0) - 1, w)  # per (group, value, class)
        cell_val = (np.cumsum(val0) - 1)[cell0]
        nv = np.bincount(cell_val, x)
        ent_v = _entropy_np(nv, np.bincount(cell_val, _xlog2x_np(x)))
        val_seg = (np.cumsum(seg0) - 1)[val0]
        n = np.bincount(val_seg, nv)
        entr = np.bincount(val_seg, nv * ent_v) / n
        skey = key[seg0]
        u, has_u = unknown(ukey, umass, skey)
        split_info = _entropy_np(
            n + u, np.bincount(val_seg, _xlog2x_np(nv)) + _xlog2x_np(u)
        )
        # Info over the known rows' classes, where NULL rows exist
        k = len(classes)
        seg_cls, at = np.unique(
            val_seg[cell_val] * k + cls[cell0], return_inverse=True
        )
        info_known = _entropy_np(
            n,
            np.bincount(
                seg_cls // k, _xlog2x_np(np.bincount(at, x)), minlength=len(n)
            ),
        )
        info = np.where(has_u, info_known, info_of(skey, len(cat_names)))
        gr = _gain_ratio_np(info, entr, split_info) * (n / (n + u))
        emit(cat_names, skey, gr, [None] * len(skey))
        hit = has_u[val_seg]  # value rows of the groups holding NULLs
        for key, n_known, v, m in zip(
            skey[val_seg[hit]].tolist(),
            n[val_seg[hit]].tolist(),
            values[value[val0][hit]].tolist(),
            nv[hit].tolist(),
        ):
            masses.setdefault(
                pair(cat_names, key), {"by_value": {}, "n_known": n_known}
            )["by_value"][v] = m

    if num_names:
        # the distributed numeric path pivots on label_domain, silently
        # dropping out-of-domain classes — mirrored by the same filter;
        # their NULL-value rows still need routing masses
        classes = list(label_domain)
        key, v, cls, w, ukey, umass = rows(num_names, "value_d", classes)
        v = v.astype(np.float64)
        cls = pd.Categorical(cls, categories=classes).codes
        o = np.lexsort((v, key))
        key, v, cls, w = key[o], v[o], cls[o].astype(np.int64), w[o]
        seg0, val0 = _runs(key), _runs(key, v)
        k, n_val = len(classes), int(val0.sum())
        # per (group, value) class masses, then their running sums
        first = seg0[val0]  # value row that opens its group
        cum = _run_cumsum(
            np.bincount(
                (np.cumsum(val0) - 1) * k + cls, w, minlength=n_val * k
            ).reshape(n_val, k),
            first,
        )
        vseg = np.cumsum(first) - 1
        tot = cum[np.flatnonzero(np.r_[first, True][1:])]  # last rows
        n = tot.sum(axis=1)
        n_le = cum.sum(axis=1)
        nn = n[vseg]
        n_gt = nn - n_le
        # candidates: all distinct values except the max, then the
        # minimum-side guard (minDataRatio, `MyReducer.java:34`); a
        # group without one emits nothing (the reference's gr=-1,
        # never selected)
        cand = np.flatnonzero(
            (n_le < nn) & (n_le >= min_ratio * nn) & (n_gt >= min_ratio * nn)
        )
        c_le, le, gt = cum[cand], n_le[cand], n_gt[cand]
        ent_le = _entropy_np(le, _xlog2x_np(c_le).sum(axis=1))
        c_gt = tot[vseg[cand]]
        c_gt -= c_le
        del c_le
        ent_gt = _entropy_np(gt, _xlog2x_np(c_gt).sum(axis=1))
        del c_gt
        entr = (le * ent_le + gt * ent_gt) / nn[cand]
        # per group the first candidate of minimal entr — values ascend,
        # so it is the smallest boundary (struct-min twin)
        cs = vseg[cand]
        run0 = _runs(cs)
        low = np.minimum.reduceat(entr, np.flatnonzero(run0)) if len(cs) else entr
        at_min = np.flatnonzero(entr == low[np.cumsum(run0) - 1])
        pick = at_min[_runs(cs[at_min])]
        best, s = cand[pick], cs[pick]
        skey = key[seg0][s]
        u, has_u = unknown(ukey, umass, skey)
        info = np.where(
            has_u,
            _entropy_np(n[s], _xlog2x_np(tot[s]).sum(axis=1)),
            info_of(skey, len(num_names)),
        )
        split_info = _entropy_np(
            n[s] + u,
            _xlog2x_np(n_le[best]) + _xlog2x_np(n_gt[best]) + _xlog2x_np(u),
        )
        gr = _gain_ratio_np(info, entr[pick], split_info) * (n[s] / (n[s] + u))
        emit(num_names, skey, gr, v[val0][best].tolist())
        for key, n_le_b, n_known in zip(
            skey[has_u].tolist(),
            n_le[best][has_u].tolist(),
            n[s][has_u].tolist(),
        ):
            masses[pair(num_names, key)] = {"n_le": n_le_b, "n_known": n_known}

    return hist, stats, masses


def _grow_levels(
    *,
    model: DecisionListModel,
    level: DataFrame,
    frontier: list[Rule],
    schema: TrainingSchema,
    cat_names: list[str],
    num_names: list[str],
    cat_domains: dict[str, list[str]],
    label_domain: list[str],
    attr_order: list[str],
    max_depth: int,
    min_ratio: float,
    min_rows: int,
    stat_rows_per_node: int = 0,
    driver_stats_max_rows: int = _DRIVER_STATS_MAX_ROWS,
    weight: str | None = None,
) -> None:
    """The level-synchronous growth loop (see :func:`train`): ONE Spark
    action per tree level (the reference's one-MR-job-per-level shape,
    `Main.java:59-123`, plus the combiner it never had).

    Level L's contingency is collected via Arrow and reduced in numpy
    (:func:`_driver_level_stats`) whenever its row bound fits
    ``driver_stats_max_rows``: the smaller of the declared product
    |frontier| × ``stat_rows_per_node`` and, on unweighted levels below
    the root, the rows still alive × (1 + |features|) — each row adds
    one class-histogram row and at most one row per feature. The rows
    alive are the split parents' totals in the previous level's class
    histograms. Under fractional fan-out a row's copies outnumber its
    mass, so weighted levels keep the declared product. Otherwise class
    histograms, categorical gain ratios and numeric best-splits are
    reduced distributed and unioned into one ``(kind, rid, aid,
    gain_ratio, boundary)`` relation so the collected result is ≤
    |frontier|×|attrs| rows; its consumers do not share one exchange —
    each re-reads the level (the 600-node wide level ran four map
    stages over it). Purity/guard decisions and the per-node argmax
    happen driver-side (:func:`_decide_level`). The terminal level
    (every node depth-capped) takes the ``hist_only`` fast path — a
    plain ``groupBy(rid, class)`` with no attribute melt, dropping the
    widest level's shuffle by a factor of |attrs|+1.

    A two-levels-per-action variant (in-plan argmax + child stats in the
    same query) was measured 28.0s vs 21.2s for this formulation at
    sf0.1: the doubled plan's analysis/codegen cost exceeds the
    scheduling it saves, so per-level it stays.

    With a row ``weight`` (``nulls='fractional'`` on data holding NULLs)
    the contingency sums weights and keeps NULL values as unknown mass;
    the rid update fans the rows with an unknown split attribute out
    over the chosen split's branch masses."""
    decide_kw = dict(
        attr_order=attr_order,
        cat_domains=cat_domains,
        label_domain=label_domain,
        max_depth=max_depth,
        min_rows=min_rows,
    )
    alive: int | None = None  # rows reaching this level, when bounded
    while frontier:
        # per level, level 0 included: without it the numeric snap runs
        # in both level 0's action and level 1's materialization. Later
        # levels shrink as leaves resolve, and every level's first stage
        # stays identical for the codegen cache (a flat frontier CASE
        # WHEN overflows JVM 64KB method limits at depth ≥ 8 →
        # interpreted fallback); measured faster than interval
        # checkpointing. eager=False folds the materialization into the
        # level's stats action — one fewer job per level.
        level = level.localCheckpoint(eager=False)
        depth = frontier[0].depth  # level-synchronous: all nodes equal
        hist_only = depth >= max_depth
        cont = None
        if not hist_only:
            cont = S.mixed_contingency(
                S.melt_mixed(
                    level, cat_names, num_names, schema.label, weight=weight
                ),
                weight,
            )
        masses: dict[tuple[int, str], dict] = {}
        bound = len(frontier) * stat_rows_per_node
        if alive is not None:
            bound = min(bound, alive * (1 + len(cat_names) + len(num_names)))
        driver = not hist_only and 0 < bound <= driver_stats_max_rows
        if driver:
            # bounded-contingency fast path: the level's plan is just
            # melt → grouped count (the ONE data-sized exchange); the
            # ≤ driver_stats_max_rows contingency comes back via Arrow
            # and the gain-ratio / best-split reduction runs in numpy.
            # Collapses ~10 tiny post-shuffle stages per level into 2 —
            # at local scale the scheduling/codegen of those stages WAS
            # the training time. Falls back to the fully distributed
            # reduction for wide frontiers/schemas on many rows.
            pdf = cont.toPandas()
            if weight:
                pdf[S.CNT] = pdf[S.CNT].astype(np.float64)
            hist, stats, masses = _driver_level_stats(
                pdf,
                cat_names=cat_names,
                num_names=num_names,
                label_domain=label_domain,
                min_ratio=min_ratio,
            )
        else:
            if weight and not hist_only:
                # read again for the chosen splits' branch masses
                cont = cont.localCheckpoint(eager=False)
            rels = _level_rels(
                level,
                cont,
                cat_names=cat_names,
                num_names=num_names,
                label=schema.label,
                label_domain=label_domain,
                min_ratio=min_ratio,
                hist_only=hist_only,
                weight=weight,
            )
            out = rels[0]
            for r in rels[1:]:
                out = out.unionByName(r)
            collected = out.collect()

            mass = float if weight else int
            hist = {}
            stats = {}
            for row in collected:
                if row["kind"] == "cc":
                    hist.setdefault(row[S.RID], {})[row[S.AID]] = mass(
                        row["gain_ratio"]
                    )
                else:
                    stats.setdefault(row[S.RID], []).append(row)

        frontier, splits = _decide_level(
            model, frontier, hist, stats, **decide_kw
        )
        if not frontier:
            break
        if not weight:
            alive = sum(sum(hist[p].values()) for p, _ in splits)
        if weight and not driver:
            # winners only, after the decision: that collect is
            # frontier-bounded, not contingency-sized
            masses = FR._collect_split_masses(cont, splits, label_domain)
        level = _apply_splits(level, splits, masses)


def _majority(h: dict[str, int], label_domain: list[str]) -> str:
    """Majority class, ties broken by ascending label string — the honest,
    deterministic replacement for the reference's last-seen/first-buffered
    label (Q3, `MyReducer.java:63,103-104,201-202`). Matches the
    ``leaf_detect`` operator's (cnt desc, class asc) ordering."""
    if not h:
        return min(label_domain)
    return min(h.items(), key=lambda kv: (-kv[1], kv[0]))[0]


def _parent_hist(
    hist: dict[int, dict[str, int]], frontier: list[Rule], i: int
) -> dict[str, int] | None:
    """Fallback label source for a zero-row child: pool the histograms of
    its siblings (= the parent's distribution)."""
    sibs = [
        h
        for j, h in hist.items()
        if frontier[j].conditions[:-1] == frontier[i].conditions[:-1]
    ]
    pooled: dict[str, int] = {}
    for h in sibs:
        for k, v in h.items():
            pooled[k] = pooled.get(k, 0) + v
    return pooled or None


def accuracy(model: DecisionListModel, df: DataFrame, label: str) -> float:
    pred = model.transform(df)
    agg = pred.select(
        F.avg((F.col("prediction") == F.col(label)).cast("double")).alias("a")
    ).collect()
    return float(agg[0]["a"])
