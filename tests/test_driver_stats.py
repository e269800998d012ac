"""The driver-side level reduction against the per-group loop it
replaced (no Spark).

``tree._driver_level_stats`` reduces a level's collected contingency in
one vectorized pass. The loop below is its predecessor, kept verbatim
as the reference: one pandas group per (node, attribute), ``np.unique``
for the values and an explicit argmin. Contingencies are built from
random rows the way the level's melt and grouped count build them, so
they hold ties in the conditional entropy, single-value groups, groups
without a candidate that passes the 10% guard, out-of-domain classes,
NaN, ±inf and -0.0 values, and (weighted) NULL values carrying
fractional masses.

Class histograms, unknown-mass routing masses and boundaries must be
equal; gain ratios agree within 1e-12 and after ``_decide_level``'s
``round(·, 10)``. Masses are sums, and summing floats in another order
may move the last bit, so the exact check uses masses that are
multiples of 1/8 (every such sum is exact); arbitrary masses are
checked to a relative 1e-12.
"""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from c4_5decisiontreebasedonmapreduce_spark.operators import c45_stats as S
from c4_5decisiontreebasedonmapreduce_spark.operators import tree as Tr

# --- the reference: the per-group loop and its scalar helpers, verbatim ---


def _xlog2x_np(a: np.ndarray) -> np.ndarray:
    """``c*log2(c)`` with 0·log2(0)=0 — numpy twin of functions.entropy."""
    out = np.zeros_like(a, dtype=np.float64)
    m = a > 0
    out[m] = a[m] * np.log2(a[m])
    return out


def _entropy_np(n: float, sum_xlog2x: float) -> float:
    """``log2(n) - Σc·log2(c)/n`` — numpy twin of entropy_from_counts."""
    return float(np.log2(n) - sum_xlog2x / n) if n > 0 else 0.0


def _gain_ratio_py(info: float, entr: float, split_info: float) -> float:
    """Python twin of :func:`c45_stats._gain_ratio_col` (incl. the
    reference's SplitI == 0 special case, `MyReducer.java:282-298`)."""
    if split_info == 0.0:
        return 0.0 if info == 0.0 else 0.00001
    return max(0.0, info - entr) / split_info


def _loop_level_stats(
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

    Rows with a NULL value (a weighted contingency's) are their (node,
    attribute)'s unknown mass ``u``: Info is taken over the known rows,
    the gain ratio is scaled by the known fraction ``n / (n + u)``, and
    ``u`` is one more split-info branch. At ``u = 0`` each term is
    exactly neutral — the known rows' Info is the node's, the fraction
    is 1.0, ``xlog2x(0)`` is 0 — so the numbers are the unweighted
    ones bit for bit.
    """
    classes = list(label_domain)
    cidx = {c: i for i, c in enumerate(classes)}
    k = len(classes)

    hist: dict[int, dict] = {}
    cc = pdf[pdf[S.AID] == S.CC_AID]
    for rid, cls, cnt in zip(cc[S.RID], cc[S.CLASS], cc[S.CNT].tolist()):
        hist.setdefault(int(rid), {})[cls] = cnt

    node_info: dict[int, float] = {}
    for rid, h in hist.items():
        counts = np.fromiter(h.values(), dtype=np.float64)
        node_info[rid] = _entropy_np(counts.sum(), _xlog2x_np(counts).sum())

    stats: dict[int, list] = {}
    masses: dict[tuple[int, str], dict] = {}

    def emit(rid: int, aid: str, gr: float, boundary) -> None:
        stats.setdefault(rid, []).append(
            {S.AID: aid, "gain_ratio": gr, "boundary": boundary}
        )

    def known(sub, col: str, classes=None):
        """``sub``'s known-value rows, and per (rid, aid) holding NULL
        values their unknown mass (of ``classes`` only, when given)."""
        null = sub[col].isna()
        if not null.any():
            return sub, {}
        w = sub[S.CNT][null]
        if classes is not None:
            w = w.where(sub[S.CLASS][null].isin(classes), 0.0)
        u = w.groupby([sub[S.RID][null], sub[S.AID][null]]).sum()
        return sub[~null], {(int(r), a): float(x) for (r, a), x in u.items()}

    if cat_names:
        sub, unknown = known(pdf[pdf[S.AID].isin(cat_names)], "value_s")
        for (rid, aid), g in sub.groupby([S.RID, S.AID], sort=False):
            rid = int(rid)
            u = unknown.get((rid, aid), 0.0)
            vals, inv = np.unique(g["value_s"].to_numpy(), return_inverse=True)
            # the distributed categorical path aggregates over every
            # class PRESENT (no pivot over label_domain) — mirror by
            # indexing the group's own class values, not the domain
            g_classes, gci = np.unique(g[S.CLASS].to_numpy(), return_inverse=True)
            mat = np.zeros((len(vals), len(g_classes)), dtype=np.float64)
            np.add.at(mat, (inv, gci), g[S.CNT].to_numpy(dtype=np.float64))
            nv = mat.sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                ent_v = np.where(
                    nv > 0,
                    np.log2(np.where(nv > 0, nv, 1.0))
                    - _xlog2x_np(mat).sum(axis=1) / np.where(nv > 0, nv, 1.0),
                    0.0,
                )
            n_attr = nv.sum()
            entr = float((nv * ent_v).sum() / n_attr)
            split_info = _entropy_np(
                n_attr + u, _xlog2x_np(nv).sum() + _xlog2x_unknown(u)
            )
            info = node_info[rid]
            if (rid, aid) in unknown:
                info = _entropy_np(n_attr, _xlog2x_np(mat.sum(axis=0)).sum())
                masses[(rid, aid)] = {
                    "by_value": dict(zip(vals.tolist(), nv.tolist())),
                    "n_known": float(n_attr),
                }
            gr = _gain_ratio_py(info, entr, split_info)
            emit(rid, aid, gr * (n_attr / (n_attr + u)), None)

    if num_names:
        # the distributed numeric path pivots on label_domain, silently
        # dropping out-of-domain classes — mirror with the same filter;
        # their NULL-value rows still need routing masses
        sub, unknown = known(pdf[pdf[S.AID].isin(num_names)], "value_d", cidx)
        sub = sub[sub[S.CLASS].isin(cidx)]
        for (rid, aid), g in sub.groupby([S.RID, S.AID], sort=False):
            rid = int(rid)
            u = unknown.get((rid, aid), 0.0)
            vals, inv = np.unique(g["value_d"].to_numpy(), return_inverse=True)
            mat = np.zeros((len(vals), k), dtype=np.float64)
            ci = np.fromiter(
                (cidx[c] for c in g[S.CLASS]), dtype=np.int64, count=len(g)
            )
            np.add.at(mat, (inv, ci), g[S.CNT].to_numpy(dtype=np.float64))
            cum = np.cumsum(mat, axis=0)
            tot = cum[-1]
            n = float(tot.sum())
            n_le = cum.sum(axis=1)
            n_gt = n - n_le
            # candidates: all distinct values except the max, then the
            # minimum-side guard (minDataRatio, `MyReducer.java:34`)
            mask = (
                (n_le < n)
                & (n_le >= min_ratio * n)
                & (n_gt >= min_ratio * n)
            )
            if not mask.any():
                continue  # reference emits gr=-1, never selected
            sum_x_le = _xlog2x_np(cum).sum(axis=1)
            sum_x_gt = _xlog2x_np(tot[None, :] - cum).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                ent_le = np.where(
                    n_le > 0,
                    np.log2(np.where(n_le > 0, n_le, 1.0))
                    - sum_x_le / np.where(n_le > 0, n_le, 1.0),
                    0.0,
                )
                ent_gt = np.where(
                    n_gt > 0,
                    np.log2(np.where(n_gt > 0, n_gt, 1.0))
                    - sum_x_gt / np.where(n_gt > 0, n_gt, 1.0),
                    0.0,
                )
            entr = (n_le * ent_le + n_gt * ent_gt) / n
            split_info = _entropy_np_vec(n, n_le, n_gt, u)
            # argmin (entr, value) — values ascend, so the first index of
            # the minimal entr is the smallest boundary (struct-min twin)
            ci_mask = np.flatnonzero(mask)
            best_local = ci_mask[np.argmin(entr[ci_mask])]
            info = node_info[rid]
            if (rid, aid) in unknown:
                info = _entropy_np(n, _xlog2x_np(tot).sum())
                masses[(rid, aid)] = {
                    "n_le": float(n_le[best_local]),
                    "n_known": n,
                }
            gr = _gain_ratio_py(
                info,
                float(entr[best_local]),
                float(split_info[best_local]),
            )
            emit(rid, aid, gr * (n / (n + u)), float(vals[best_local]))

    return hist, stats, masses


def _xlog2x_unknown(u: float) -> float:
    """``u*log2(u)`` of the unknown split-info branch; 0 when empty."""
    return float(u * np.log2(u)) if u > 0 else 0.0


def _entropy_np_vec(
    n: float, n_le: np.ndarray, n_gt: np.ndarray, unknown: float = 0.0
) -> np.ndarray:
    """Vectorized two-way split information for a fixed known total
    ``n``, plus the ``unknown`` mass's branch."""
    total = n + unknown
    if total <= 0:
        return np.zeros_like(n_le)
    return np.log2(total) - (
        _xlog2x_np(n_le) + _xlog2x_np(n_gt) + _xlog2x_unknown(unknown)
    ) / total


# --- the properties ---

CLASSES = ["N", "P", "Q"]  # the declared label domain; rows may hold "Z"
CAT = {"a": ["u", "v", "w"], "b": ["u", "v"]}
NUM = ["x", "y"]
NUM_VALUES = [-1.5, -0.0, 0.0, 1.0, 2.0, 2.5, math.inf, -math.inf, math.nan]


def _contingency(rows, weighted: bool, order) -> pd.DataFrame:
    """The level's melt + grouped count (or weight sum) over ``rows`` —
    ``(rid, class, weight, {attr: value})`` — as Spark groups it and
    Arrow brings it back: one key for every NaN, -0.0 grouped with 0.0,
    NULL values kept only when weighted, a NULL ``value_d`` read as
    NaN. ``order`` permutes the rows, as a collect may."""
    groups: dict[tuple, float] = {}
    for rid, cls, w, vals in rows:
        entries = [(S.CC_AID, None, None)]
        entries += [(a, vals[a], None) for a in CAT]
        entries += [(a, None, vals[a]) for a in NUM]
        for aid, vs, vd in entries:
            unknown = aid != S.CC_AID and vs is None and vd is None
            if unknown and not weighted:
                continue
            dkey = None if vd is None else "nan" if math.isnan(vd) else vd + 0.0
            key = (rid, aid, vs, dkey, cls)
            groups[key] = groups.get(key, 0) + w
    out = [
        (rid, aid, vs, math.nan if d in (None, "nan") else d, cls, cnt)
        for (rid, aid, vs, d, cls), cnt in groups.items()
    ]
    out = [out[i] for i in order(len(out))]
    pdf = pd.DataFrame(
        out, columns=[S.RID, S.AID, "value_s", "value_d", S.CLASS, S.CNT]
    )
    pdf[S.RID] = pdf[S.RID].astype(np.int32)
    pdf[S.CNT] = pdf[S.CNT].astype(np.float64 if weighted else np.int64)
    return pdf


@st.composite
def levels(draw, weighted: bool, dyadic: bool = True):
    """A random level's contingency and the guard ratio."""
    rows = []
    for _ in range(draw(st.integers(1, 40))):
        vals = {
            a: draw(st.sampled_from(d + [None] * weighted))
            for a, d in CAT.items()
        }
        for a in NUM:
            vals[a] = draw(st.sampled_from(NUM_VALUES + [None] * weighted))
        if not weighted:
            w = 1
        elif dyadic:
            w = draw(st.integers(1, 32)) / 8
        else:
            w = draw(st.floats(1e-3, 4.0))
        rows.append(
            (
                draw(st.integers(0, 3)),
                draw(st.sampled_from(CLASSES + ["Z"])),
                w,
                vals,
            )
        )
    seed = draw(st.integers(0, 2**32 - 1))
    pdf = _contingency(
        rows, weighted, np.random.default_rng(seed).permutation
    )
    return pdf, draw(st.sampled_from([0.0, 0.1, 0.25, 0.5]))


def _both(pdf, min_ratio):
    kw = dict(
        cat_names=list(CAT),
        num_names=NUM,
        label_domain=CLASSES,
        min_ratio=min_ratio,
    )
    return Tr._driver_level_stats(pdf, **kw), _loop_level_stats(pdf, **kw)


def _by_key(stats):
    out = {(rid, r[S.AID]): r for rid, rs in stats.items() for r in rs}
    assert len(out) == sum(map(len, stats.values()))  # one row a group
    return out


def _assert_same(got, want, exact_masses: bool = True) -> None:
    (hist, stats, masses), (hist0, stats0, masses0) = got, want
    assert hist == hist0
    a, b = _by_key(stats), _by_key(stats0)
    assert a.keys() == b.keys()
    for k, r in a.items():
        assert r["boundary"] == b[k]["boundary"], k
        g, g0 = r["gain_ratio"], b[k]["gain_ratio"]
        assert abs(g - g0) <= 1e-12, (k, g, g0)
        assert round(g, 10) == round(g0, 10), (k, g, g0)
    if exact_masses:
        assert masses == masses0
        return
    assert masses.keys() == masses0.keys()
    for k, m in masses.items():
        m0 = masses0[k]
        assert m.keys() == m0.keys()
        assert m["n_known"] == pytest.approx(m0["n_known"], rel=1e-12)
        if "n_le" in m:
            assert m["n_le"] == pytest.approx(m0["n_le"], rel=1e-12)
        else:
            assert m["by_value"].keys() == m0["by_value"].keys()
            for v, x in m["by_value"].items():
                assert x == pytest.approx(m0["by_value"][v], rel=1e-12)


@settings(max_examples=300, deadline=None)
@given(levels(weighted=False))
def test_unweighted_level_matches_loop(level):
    _assert_same(*_both(*level))


@settings(max_examples=300, deadline=None)
@given(levels(weighted=True))
def test_weighted_level_matches_loop(level):
    _assert_same(*_both(*level))


@settings(max_examples=150, deadline=None)
@given(levels(weighted=True, dyadic=False))
def test_weighted_level_with_any_masses_matches_loop(level):
    _assert_same(*_both(*level), exact_masses=False)


def test_tied_attributes_tie_exactly():
    """Two attributes with the same contingency get the same gain ratio
    bit for bit, wherever their groups sit in the sorted rows, so the
    declaration-order tie-break decides, as in the loop."""
    rows = []
    for i in range(24):
        cls = "NP"[(i * 7) % 3 == 0]
        v = float(i % 5)
        rows += [(0, "a", None, v, cls, 1), (0, "b", None, v, cls, 1)]
        rows += [(7, "a", None, v + 1, cls, 1), (7, "b", None, v + 1, cls, 1)]
        rows += [(rid, S.CC_AID, None, math.nan, cls, 1) for rid in (0, 7)]
    pdf = pd.DataFrame(
        rows, columns=[S.RID, S.AID, "value_s", "value_d", S.CLASS, S.CNT]
    ).groupby([S.RID, S.AID, "value_d", S.CLASS], dropna=False, as_index=False)[
        S.CNT
    ].sum()
    pdf["value_s"] = None
    _, stats, _ = Tr._driver_level_stats(
        pdf, cat_names=[], num_names=["a", "b"], label_domain=["N", "P"],
        min_ratio=0.1,
    )
    for rid in (0, 7):
        a, b = sorted(stats[rid], key=lambda r: r[S.AID])
        assert a["gain_ratio"] == b["gain_ratio"] > 0
        assert a["boundary"] == b["boundary"]
