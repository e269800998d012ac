"""True C4.5 fractional routing for missing values (Quinlan 1993 ch. 3).

``train(nulls="missing")`` approximates unknown values with a
branch-as-category / median-impute policy; ``train(nulls="fractional")``
runs the actual C4.5 semantics the reference (which has no null concept
at all — SURVEY §1.1) also lacks:

- **Gain scaling**: an attribute's information gain at a node is computed
  over the rows whose value is KNOWN, then multiplied by the known
  fraction ``F = W_known / W_total`` — an attribute missing half the
  time earns half its apparent gain.
- **Split info**: the unknown rows form one extra pseudo-branch of the
  split-information entropy, further penalising attributes with many
  unknowns.
- **Fractional routing**: when a node splits on attribute ``a``, a row
  with unknown ``a`` is sent to EVERY child with weight
  ``w · W_child / W_known`` — its mass is distributed in proportion to
  the observed branch sizes, so leaf counts become fractional exactly as
  C4.5 prints them (e.g. ``(3.4/0.4)``).

There is no second trainer: ``tree.train`` runs its one level loop with
a row-weight column ``__w`` (DECIMAL(28,12)) whenever the prologue's
null audit finds a NULL feature. The melt then keeps NULL values as
their own group and the contingency sums weights instead of counting
rows (:func:`c45_stats.mixed_contingency`); both stats reductions fold
in the three terms above, each exactly neutral when an attribute has no
unknown mass at a node (F = 1, an empty split-info branch), which is
why a null-free table trains the standard model with the standard plan.
Every contingency is a SUM of decimals, so masses are exact and
order-independent — the model is deterministic under any partitioning
(pinned in tests/test_fractional.py). The rid update
(``tree._apply_splits``) fans a row with a NULL split attribute out over
the per-parent ``(child id, multiplier)`` array :func:`_fan_out` builds;
only those rows are exploded, so the extra rows are linear in missing
values, never corpus-sized.

This module holds what only weighted training needs: the branch masses
of the chosen splits on distributed levels and the fan-out multipliers.

Prediction: the returned model is an ordinary :class:`DecisionListModel`
whose rule predicates test concrete values, so ``transform`` leaves rows
with a null split attribute unmatched (prediction NULL) — scoring-time
fractional class distribution is documented out of scope (training-time
routing is what shapes the model).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from c4_5decisiontreebasedonmapreduce_spark.operators import c45_stats as S

W = "__w"  # the fractional weight column
W_TYPE = "decimal(28,12)"
MUL_TYPE = "decimal(18,12)"  # a fan-out multiplier


def _collect_split_masses(
    wcont: DataFrame,
    splits: list[tuple[int, list]],
    label_domain: list[str],
) -> dict[tuple[int, str], dict]:
    """Per-branch known masses for the CHOSEN split of each node — the
    only masses :func:`_fan_out` ever reads, so a distributed level
    collects winners-only: ≤ |frontier|·max(|domain|, 1) rows, not the
    full contingency that tripped the driver bound. One broadcast join
    of the (rid, aid, boundary) winners relation against the
    checkpointed weighted contingency, two bounded collects."""
    spark = wcont.sparkSession
    w_d = F.col(S.CNT).cast("double")
    cat_pairs = [
        (p, ch[0][0].attr) for p, ch in splits if ch[0][0].op == "=="
    ]
    num_pairs = [
        (p, ch[0][0].attr, float(ch[0][0].value))
        for p, ch in splits
        if ch[0][0].op != "=="
    ]
    masses: dict[tuple[int, str], dict] = {}
    if cat_pairs:
        winners = F.broadcast(
            spark.createDataFrame(cat_pairs, f"{S.RID} int, {S.AID} string")
        )
        rows = (
            wcont.join(winners, [S.RID, S.AID])
            .where(F.col("value_s").isNotNull())
            .groupBy(S.RID, S.AID, "value_s")
            .agg(F.sum(w_d).alias("nv"))
            .collect()
        )
        for r in rows:
            m = masses.setdefault(
                (r[S.RID], r[S.AID]), {"by_value": {}, "n_known": 0.0}
            )
            m["by_value"][r["value_s"]] = float(r["nv"])
            m["n_known"] += float(r["nv"])
    if num_pairs:
        winners = F.broadcast(
            spark.createDataFrame(
                num_pairs, f"{S.RID} int, {S.AID} string, bnd double"
            )
        )
        rows = (
            wcont.where(F.col(S.CLASS).isin(list(label_domain)))
            .join(winners, [S.RID, S.AID])
            .where(F.col("value_d").isNotNull())
            .groupBy(S.RID, S.AID, "bnd")
            .agg(
                F.sum(F.when(F.col("value_d") <= F.col("bnd"), w_d)).alias(
                    "w_le"
                ),
                F.sum(w_d).alias("n_known"),
            )
            .collect()
        )
        for r in rows:
            masses[(r[S.RID], r[S.AID])] = {
                "n_le": float(r["w_le"] or 0.0),
                "n_known": float(r["n_known"]),
            }
    return masses


def _fan_out(children: list, m: dict) -> list[tuple[int, float]]:
    """``(child id, W_child / W_known)`` for every child that receives
    mass from a row whose split attribute is unknown, the multiplier
    rounded to its DECIMAL(18,12) digits. ``m`` is one chosen split's
    masses: ``by_value`` per categorical value, or the numeric ``<=``
    side's ``n_le``; ``n_known`` either way."""
    fan = []
    for cond, cid in children:
        if "by_value" in m:
            child_w = m["by_value"].get(cond.value, 0.0)
        elif cond.op == "<=":
            child_w = m["n_le"]
        else:
            child_w = m["n_known"] - m["n_le"]
        frac = round(child_w / m["n_known"], 12)
        if frac > 0:
            fan.append((cid, frac))
    return fan
