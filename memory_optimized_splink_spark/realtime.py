"""Realtime single-pair scoring on the driver.

The reference caches the compiled scoring SQL so repeated
`compare_two_records` calls skip recompilation but still run a database
query per call (/root/reference/splink/internals/realtime.py:17-44). This
engine goes one step further: the whole trained model is driver-local
(settings, m/u tables, TF count maps), so a single pair can be scored in
pure Python/numpy in microseconds — no Spark job, no plan compilation.
`SparkLinker.compare_two_records_fast` builds one `LocalScorer` lazily
(collecting the TF dims once) and reuses it for every subsequent call.

Semantics are the batch predict's, level for level: the gamma CASE ladder
(operators/vectors._level_condition), the m/u Bayes-factor lookup
(operators/score.bf_lookup), the fork/upstream TF adjustment styles
(operators/score.tf_adjustment_column) and the prior*product combine with
the Infinity guard. A parity test drives both paths on the same pairs.

Custom-SQL levels (`kind="custom"`) cannot be evaluated without a SQL
engine: construction raises LocalScoringUnsupported so callers fall back to
the Spark path.
"""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np
import pandas as pd

from .model import Settings, prob_to_bayes_factor
from .operators.score import apply_only_help, bf_lookup

_UNSUPPORTED_KINDS = {"custom"}


class LocalScoringUnsupported(ValueError):
    pass


def _string_metric(kind: str, l, r):
    """One pair through the dispatcher the batch path's UDFs use
    (functions.similarity.string_metric), so the two cannot drift."""
    import pyarrow as pa

    from .functions.similarity import string_metric

    return string_metric(kind, pa.array([str(l)]), pa.array([str(r)]))[0] \
        .as_py()


def _to_epoch(v) -> float | None:
    """Epoch seconds matching Spark's unix_timestamp defaults: datetimes
    and 'yyyy-MM-dd HH:mm:ss' strings, interpreted as UTC (run the session
    with spark.sql.session.timeZone=UTC — the container default — for
    exact batch parity). Unparseable strings return None, like
    unix_timestamp's NULL."""
    from datetime import timezone

    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.timestamp()
    if isinstance(v, str):
        try:
            return datetime.strptime(v, "%Y-%m-%d %H:%M:%S") \
                .replace(tzinfo=timezone.utc).timestamp()
        except ValueError:
            return None
    return float(v)


def _haversine_km(lat1, lon1, lat2, lon2) -> float:
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dlat, dlon = p2 - p1, math.radians(lon2) - math.radians(lon1)
    a = math.sin(dlat / 2) ** 2 + \
        math.cos(p1) * math.cos(p2) * math.sin(dlon / 2) ** 2
    return 2 * 6371.0 * math.asin(math.sqrt(a))


class LocalScorer:
    """Driver-side Fellegi-Sunter scorer for one record pair at a time.

    tf_maps: {column: {value: count}} — the collected TF dims (counts, the
    fork's convention). n_records: {column: non-null count, "__total__": n}
    or a single float, exactly as operators.score expects.
    """

    def __init__(self, settings: Settings,
                 tf_maps: dict[str, dict] | None = None,
                 n_records: dict | float | None = None):
        self.settings = apply_only_help(settings.with_defaults())
        unsupported = sorted({
            lv.kind for c in self.settings.comparisons
            for top in c.levels for lv in top.walk()
            if lv.kind in _UNSUPPORTED_KINDS
        })
        if unsupported:
            raise LocalScoringUnsupported(
                f"level kinds {unsupported} need a SQL engine; use the "
                "Spark compare_two_records path")
        self._bf = {c.name: bf_lookup(c) for c in self.settings.comparisons}
        self._tf_maps = tf_maps or {}
        self._n_records = n_records

    # ------------------------------------------------------------- levels
    def _level_matches(self, comp, lv, rec_l: dict, rec_r: dict) -> bool:
        k = lv.kind
        # composed levels dispatch before any column access — sub levels
        # carry their own columns (comparison_level_composition.py)
        if k == "and":
            return all(self._level_matches(comp, s, rec_l, rec_r)
                       for s in lv.sub_levels)
        if k == "or":
            return any(self._level_matches(comp, s, rec_l, rec_r)
                       for s in lv.sub_levels)
        if k == "not":
            return not self._level_matches(comp, lv.sub_levels[0],
                                           rec_l, rec_r)
        if k == "null":
            c = lv.column or comp.column
            return rec_l.get(c) is None or rec_r.get(c) is None
        c = lv.column or comp.column
        l, r = rec_l.get(c), rec_r.get(c)
        if k == "exact":
            return l is not None and r is not None and l == r
        if k == "literal":
            return l == lv.literal and r == lv.literal
        if l is None or r is None:
            # columns_reversed / distance_in_km read OTHER columns (column2,
            # lat/long) — their own null handling is below
            if k not in ("columns_reversed", "distance_in_km"):
                return False
        if k in ("levenshtein", "damerau_levenshtein"):
            return _string_metric(k, l, r) <= lv.threshold
        if k in ("jaro", "jaro_winkler"):
            return _string_metric(k, l, r) >= lv.threshold
        if k == "jaccard_chars":
            a, b = set(l), set(r)
            union = len(a | b)
            return union > 0 and len(a & b) / union >= lv.threshold
        if k == "cosine":
            from .functions.similarity import cosine_np
            return cosine_np(pd.Series([l]), pd.Series([r]))[0] \
                >= lv.threshold
        if k == "array_intersect":
            return len(set(l) & set(r)) >= int(lv.threshold)
        if k == "array_subset":
            return (len(l) > 0 and len(r) > 0
                    and len(set(l) & set(r)) == min(len(l), len(r)))
        if k == "abs_diff":
            return abs(l - r) <= lv.threshold
        if k == "pct_diff":
            mx = max(l, r)
            if mx == 0:
                return False  # batch: 0/0 -> NaN/NULL -> condition false
            return abs(l - r) / mx < lv.threshold
        if k == "date_diff_seconds":
            el, er = _to_epoch(l), _to_epoch(r)
            if el is None or er is None:
                return False  # unix_timestamp NULL -> condition false
            return abs(el - er) <= lv.threshold
        if k == "columns_reversed":
            b_l, b_r = rec_l.get(lv.column2), rec_r.get(lv.column2)
            if None in (l, r, b_l, b_r):
                return False
            return l == b_r and b_l == r
        if k == "distance_in_km":
            la_l, la_r = rec_l.get(lv.lat_column), rec_r.get(lv.lat_column)
            lo_l, lo_r = rec_l.get(lv.long_column), rec_r.get(lv.long_column)
            if None in (la_l, la_r, lo_l, lo_r):
                return False
            return _haversine_km(la_l, lo_l, la_r, lo_r) <= lv.threshold
        if k == "dmetaphone":
            from .functions.phonetic import double_metaphone
            return double_metaphone(l)[0] == double_metaphone(r)[0]
        if k == "dmetaphone_alt":
            from .functions.phonetic import double_metaphone
            dl, dr = double_metaphone(l), double_metaphone(r)
            return dl[0] == dr[0] or dl[1] == dr[1]
        if k == "qgram_jaccard":
            from .functions.phonetic import _qgrams_py
            a = set(_qgrams_py(l) or ())
            b = set(_qgrams_py(r) or ())
            union = len(a | b)
            j = len(a & b) / union if union else 0.0
            return j >= lv.threshold
        if k == "pairwise_levenshtein":
            # batch: array_min over an empty/null-element grid is NULL ->
            # condition false; skip None elements and empty products
            dists = [_string_metric("levenshtein", x, y)
                     for x in l for y in r
                     if x is not None and y is not None]
            if not dists:
                return False
            return min(dists) <= int(lv.threshold)
        if k in ("pairwise_jaro", "pairwise_jaro_winkler",
                 "pairwise_damerau_levenshtein"):
            import math as _math

            import pandas as _pd

            from .functions.similarity import pairwise_best_np
            best = pairwise_best_np(
                _pd.Series([list(l)]), _pd.Series([list(r)]),
                k[len("pairwise_"):])[0]
            if _math.isnan(best):
                return False
            if k == "pairwise_damerau_levenshtein":
                return best <= lv.threshold
            return best >= lv.threshold
        raise LocalScoringUnsupported(k)

    def gamma(self, comp, rec_l: dict, rec_r: dict) -> int:
        null_lv = comp.null_level
        if null_lv is not None and \
                self._level_matches(comp, null_lv, rec_l, rec_r):
            return -1
        for g, lv in comp.graded_levels:
            if lv.kind == "else":
                continue
            if self._level_matches(comp, lv, rec_l, rec_r):
                return g
        return 0

    # ------------------------------------------------------ tf adjustment
    def _n_for(self, col: str) -> float:
        if isinstance(self._n_records, dict):
            return float(self._n_records[col])
        return float(self._n_records or 0.0)

    def _tf_adj(self, comp, gamma: int, rec_l: dict, rec_r: dict) -> float:
        """Mirrors operators.score.tf_adjustment_column CASE for one row."""
        for g, lv in comp.graded_levels:
            if g != gamma or not lv.tf_adjustment or lv.kind == "else":
                continue
            c = lv.column or comp.column
            tfm = self._tf_maps.get(c, {})
            tf_l = tfm.get(rec_l.get(c))
            tf_r = tfm.get(rec_r.get(c))
            n = self._n_for(c)
            if self.settings.tf_style == "upstream_ratio":
                if tf_l is None:
                    return 1.0
                return (lv.u * n / tf_l) ** lv.tf_adjustment_weight
            if lv.kind == "exact":
                if tf_l is None:
                    return 1.0
                return n / max(tf_l, lv.tf_minimum_u_value)
            sim = (lv.fuzzy_similarity_value
                   if lv.fuzzy_similarity_value is not None else 0.9)
            eps = (lv.fuzzy_max_epsilon
                   if lv.fuzzy_max_epsilon is not None else 0.0)
            if tf_l is None or tf_r is None:
                return 1.0
            score = sim * n / math.sqrt(tf_l * tf_r)
            if (1.0 - sim) * eps != 0:
                score += (1.0 - sim) * eps * n ** 2 / (tf_l * tf_r)
            return score
        return 1.0

    # -------------------------------------------------------------- score
    def score(self, rec_l: dict, rec_r: dict) -> dict:
        out: dict = {}
        bf_total = prob_to_bayes_factor(
            self.settings.probability_two_random_records_match)
        any_inf = False
        for comp in self.settings.comparisons:
            g = self.gamma(comp, rec_l, rec_r)
            out[comp.gamma_column] = g
            bf = self._bf[comp.name][g]
            any_inf |= math.isinf(bf)
            bf_total *= bf
            bf_total *= self._tf_adj(comp, g, rec_l, rec_r)
        out["match_weight"] = math.log2(bf_total) if bf_total > 0 \
            else -math.inf
        out["match_probability"] = 1.0 if any_inf \
            else bf_total / (1.0 + bf_total)
        return out


def collect_tf_maps(tf_tables: dict, max_rows: int = 1_000_000
                    ) -> dict[str, dict]:
    """Collect TF dim DataFrames to driver-side {value: count} maps.
    Guarded: a TF dim beyond `max_rows` distinct values would not be
    broadcast-joined by the batch path either — fail loudly instead of
    OOMing the driver."""
    out: dict[str, dict] = {}
    for col, df in tf_tables.items():
        rows = df.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise LocalScoringUnsupported(
                f"tf dim for {col!r} exceeds {max_rows} distinct values; "
                "use the Spark compare_two_records path")
        out[col] = {r[col]: float(r[f"tf_{col}"]) for r in rows}
    return out
