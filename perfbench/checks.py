"""Correctness checks computed apart from the program.

Everything here is plain Python, pandas or numpy: string metrics, pair
counts, Fellegi-Sunter weights and connected components are recomputed
from the generated inputs and compared with what the program wrote. Each
check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import itertools
import math

import numpy as np
import pandas as pd

# A metric this close to a level threshold may round either way between
# two correct implementations; such pairs accept both neighbouring levels.
THRESHOLD_TOL = 1e-9
WEIGHT_TOL = 1e-6


# ------------------------------------------------------------- metrics
def jaro(a: str, b: str) -> float:
    """Jaro similarity; half-transpositions are floored (rapidfuzz/DuckDB)."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(max(la, lb) // 2 - 1, 0)
    b_used = [False] * lb
    a_match = []
    for i, ch in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for k in range(lo, hi):
            if not b_used[k] and b[k] == ch:
                b_used[k] = True
                a_match.append(ch)
                break
    m = len(a_match)
    if m == 0:
        return 0.0
    b_match = [b[k] for k in range(lb) if b_used[k]]
    t = sum(x != y for x, y in zip(a_match, b_match)) // 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str) -> float:
    j = jaro(a, b)
    if j <= 0.7:
        return j
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    return j + 0.1 * prefix * (1.0 - j)


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def shingle_jaccard(a: str, b: str, k: int = 5) -> float:
    """Jaccard over distinct k-byte windows of the lower-cased UTF-8 text."""
    ba, bb = a.lower().encode(), b.lower().encode()
    sa = {ba[i:i + k] for i in range(max(len(ba) - k + 1, 1))}
    sb = {bb[i:i + k] for i in range(max(len(bb) - k + 1, 1))}
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


# ---------------------------------------------------------- blocking
def _pairs_in_groups(df: pd.DataFrame, keys: list[str]) -> int:
    g = df.dropna(subset=keys).groupby(keys, sort=False).size().to_numpy()
    return int((g * (g - 1) // 2).sum())


def expected_pair_count(df: pd.DataFrame, rules: list[list[str]]) -> int:
    """Pairs the rules generate, each once: rule i counts only the pairs no
    earlier rule matched, by inclusion-exclusion over group sizes."""
    total = 0
    for i, keys in enumerate(rules):
        for r in range(i + 1):
            for subset in itertools.combinations(range(i), r):
                cols = list(dict.fromkeys(
                    keys + [c for j in subset for c in rules[j]]))
                total += (-1) ** r * _pairs_in_groups(df, cols)
    return total


def check_pairs(pairs: pd.DataFrame, expected: int,
                left: str = "unique_id_l", right: str = "unique_id_r"
                ) -> list[str]:
    errs = []
    if len(pairs) != expected:
        errs.append(f"pair count {len(pairs)} != {expected} from group sizes")
    lo = np.minimum(pairs[left].to_numpy(), pairs[right].to_numpy())
    hi = np.maximum(pairs[left].to_numpy(), pairs[right].to_numpy())
    dup = pd.DataFrame({"lo": lo, "hi": hi}).duplicated().sum()
    if dup:
        errs.append(f"{dup} pairs appear twice")
    if (lo == hi).any():
        errs.append("a record is paired with itself")
    return errs


# --------------------------------------------------- Fellegi-Sunter
def _level_holds(kind: str, threshold, vl, vr):
    """True/False, or None when a metric sits on its threshold."""
    if kind == "exact":
        return vl == vr
    if kind == "jaro_winkler":
        d = jaro_winkler(vl, vr) - threshold
    elif kind == "levenshtein":
        d = threshold - levenshtein(vl, vr)
    else:
        raise ValueError(f"no reference for level kind {kind}")
    if abs(d) <= THRESHOLD_TOL:
        return None
    return d > 0


def gamma(comp, vl, vr):
    """Gamma of one comparison, or None when a threshold tie makes it
    ambiguous. `comp` is a model.Comparison of null/exact/metric/else."""
    if vl is None or vr is None or (isinstance(vl, float) and math.isnan(vl)) \
            or (isinstance(vr, float) and math.isnan(vr)):
        return -1
    for g, lv in comp.graded_levels:
        if lv.kind == "else":
            return 0
        holds = _level_holds(lv.kind, lv.threshold, vl, vr)
        if holds is None:
            return None
        if holds:
            return g
    return 0


def match_weight(settings, gammas: dict, tf: dict) -> float:
    """log2 of prior odds x per-comparison m/u x exact-level TF factors.
    tf maps comparison name -> (records in field, count of the left value)."""
    lam = settings.probability_two_random_records_match
    w = math.log2(lam / (1 - lam))
    for comp in settings.comparisons:
        g = gammas[comp.name]
        if g < 0:
            continue
        lv = dict(comp.graded_levels)[g]
        w += math.log2(lv.m / lv.u)
        if lv.tf_adjustment and lv.kind == "exact" and comp.name in tf:
            n, count = tf[comp.name]
            w += math.log2(n / count)
    return w


def check_scores(sample: pd.DataFrame, records: pd.DataFrame, settings,
                 tf_records: pd.DataFrame | None = None,
                 uid: str = "unique_id") -> list[str]:
    """Recompute gammas and match weights of sampled predicted pairs.
    Term frequencies count values in `tf_records` (default: `records`)."""
    rec = records.set_index(uid)
    tf_src = rec if tf_records is None else tf_records
    tf_counts = {}
    for comp in settings.comparisons:
        for _, lv in comp.graded_levels:
            if lv.tf_adjustment and lv.kind == "exact":
                col = tf_src[comp.column]
                tf_counts[comp.name] = (comp.column, int(col.notna().sum()),
                                        col.value_counts().to_dict())
    errs = []
    checked = 0
    for row in sample.itertuples(index=False):
        rl, rr = rec.loc[row.unique_id_l], rec.loc[row.unique_id_r]
        gammas, ambiguous = {}, False
        for comp in settings.comparisons:
            vl, vr = rl[comp.column], rr[comp.column]
            vl = None if pd.isna(vl) else vl
            vr = None if pd.isna(vr) else vr
            g = gamma(comp, vl, vr)
            if g is None:
                ambiguous = True
                continue
            gammas[comp.name] = g
            got = getattr(row, comp.gamma_column)
            if got != g:
                errs.append(f"pair ({row.unique_id_l},{row.unique_id_r}) "
                            f"{comp.gamma_column}={got}, reference {g}")
        if ambiguous or len(errs) > 10:
            continue
        tf = {name: (n, counts[rl[col]])
              for name, (col, n, counts) in tf_counts.items()
              if gammas.get(name, 0) > 0 and rl[col] in counts}
        w = match_weight(settings, gammas, tf)
        if abs(w - row.match_weight) > WEIGHT_TOL * max(1.0, abs(w)):
            errs.append(f"pair ({row.unique_id_l},{row.unique_id_r}) "
                        f"match_weight={row.match_weight}, reference {w}")
        checked += 1
    if checked < len(sample) // 2:
        errs.append(f"only {checked} of {len(sample)} sampled pairs checked")
    return errs[:10]


def check_parameters(settings) -> list[str]:
    """m and u sum to 1 over each comparison's non-null levels; 0<lambda<1."""
    errs = []
    lam = settings.probability_two_random_records_match
    if not 0.0 < lam < 1.0:
        errs.append(f"lambda {lam} outside (0, 1)")
    for comp in settings.comparisons:
        levels = [lv for _, lv in comp.graded_levels]
        for p in ("m", "u"):
            s = sum(getattr(lv, p) for lv in levels)
            if abs(s - 1.0) > 1e-4 * len(levels):
                errs.append(f"{comp.name}: {p} sums to {s}")
    return errs


# ------------------------------------------------------------ clusters
def union_find(nodes, edges_l, edges_r) -> dict:
    """node -> smallest node of its connected component."""
    parent = {n: n for n in nodes}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges_l, edges_r):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in nodes}


def canonical(members: pd.DataFrame, node: str, cluster: str) -> pd.Series:
    """node -> smallest node id of its cluster, indexed by node."""
    smallest = members.groupby(cluster)[node].transform("min")
    return pd.Series(smallest.to_numpy(), index=members[node].to_numpy()
                     ).sort_index()


def check_clusters(members: pd.DataFrame, edges: pd.DataFrame,
                   node: str = "unique_id", cluster: str = "cluster_id",
                   left: str = "unique_id_l", right: str = "unique_id_r"
                   ) -> list[str]:
    """The program's clusters equal union-find over the same edges."""
    got = canonical(members, node, cluster)
    if got.index.has_duplicates:
        return ["a node appears in more than one cluster"]
    ref = union_find(sorted(got.index), edges[left].to_numpy(),
                     edges[right].to_numpy())
    ref = pd.Series(ref).sort_index()
    if len(ref) != len(got) or not (ref.index == got.index).all():
        return ["cluster node sets differ from the input nodes"]
    bad = int((ref.to_numpy() != got.to_numpy()).sum())
    return [f"{bad} nodes in a different cluster than union-find"] if bad \
        else []


def pairwise_precision_recall(pred: np.ndarray, truth: np.ndarray
                              ) -> tuple[float, float]:
    """Pairwise precision and recall of a clustering against truth labels."""
    def pairs(counts):
        return float((counts * (counts - 1) // 2).sum())

    df = pd.DataFrame({"p": pred, "t": truth})
    tp = pairs(df.groupby(["p", "t"]).size().to_numpy())
    pp = pairs(df.groupby("p").size().to_numpy())
    tt = pairs(df.groupby("t").size().to_numpy())
    return (tp / pp if pp else 1.0), (tp / tt if tt else 1.0)


def check_quality(pred: np.ndarray, truth: np.ndarray, min_precision: float,
                  min_recall: float) -> list[str]:
    p, r = pairwise_precision_recall(pred, truth)
    errs = []
    if p < min_precision:
        errs.append(f"pairwise precision {p:.3f} < {min_precision}")
    if r < min_recall:
        errs.append(f"pairwise recall {r:.3f} < {min_recall}")
    return errs
