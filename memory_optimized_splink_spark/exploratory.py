"""Exploratory comparator helpers — driver-local, no Spark job.

Mirrors the reference's `splink.exploratory.similarity_analysis`
(/root/reference/splink/internals/similarity_analysis.py:23-331):
side-by-side comparator scores for candidate string pairs while a user is
DESIGNING comparisons, before any linkage runs. The reference shells out to
DuckDB + the `phonetics` package; this engine reuses its own string kernels
(functions/similarity.py — pinned to DuckDB semantics and fuzz-tested
against it) and the Double Metaphone encoder (functions/phonetic.py), so
the exploratory numbers are EXACTLY what the pipeline will compute at
scale. Charts are plain Vega-Lite v5 dict specs like charts.py.

Differences from the reference, stated: jaccard here is DuckDB's
character-set Jaccard (what JaccardLevel computes); `metaphone` (the
1990 single-result Metaphone from the `phonetics` package) is not shipped —
the closest available transform is the Double Metaphone primary code.
"""

from __future__ import annotations

import pandas as pd

from .charts import _vegalite
from .functions.phonetic import double_metaphone
from .functions.similarity import (
    edit_distance_np,
    jaro_np,
    jaro_winkler_np,
)

_SIMILARITY_COLS = ("jaro_similarity", "jaro_winkler_similarity",
                    "jaccard_similarity")
_DISTANCE_COLS = ("levenshtein_distance", "damerau_levenshtein_distance")


def _char_jaccard(a: str | None, b: str | None) -> float:
    """DuckDB jaccard(): Jaccard over DISTINCT characters."""
    if not a or not b:
        return 0.0
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb)


def comparator_score_df(data, col1: str, col2: str,
                        decimal_places: int = 2) -> pd.DataFrame:
    """All comparator scores for each string pair in `data` (dict of lists
    or DataFrame) — reference similarity_analysis.comparator_score_df:49,
    same output columns."""
    df = pd.DataFrame(data)
    s1, s2 = df[col1].astype(str), df[col2].astype(str)
    out = df[[col1, col2]].copy()
    out["levenshtein_distance"] = edit_distance_np(s1, s2, damerau=False)
    out["damerau_levenshtein_distance"] = edit_distance_np(
        s1, s2, damerau=True)
    out["jaro_similarity"] = jaro_np(s1, s2).round(decimal_places)
    out["jaro_winkler_similarity"] = jaro_winkler_np(s1, s2).round(
        decimal_places)
    out["jaccard_similarity"] = pd.Series(
        [_char_jaccard(a, b) for a, b in zip(s1, s2)]
    ).round(decimal_places)
    return out


def comparator_score(str1: str, str2: str,
                     decimal_places: int = 2) -> pd.DataFrame:
    """Single-pair convenience (reference comparator_score:23): one row with
    every comparator's score."""
    return comparator_score_df(
        {"string1": [str1], "string2": [str2]}, "string1", "string2",
        decimal_places).rename(
            columns={"string1": "string1", "string2": "string2"})


def _melt(df: pd.DataFrame, col1: str, col2: str) -> pd.DataFrame:
    df = df.copy()
    df["strings_to_compare"] = df[col1] + ", " + df[col2]
    return pd.melt(
        df, id_vars=["strings_to_compare"],
        value_vars=list(_SIMILARITY_COLS) + list(_DISTANCE_COLS),
        var_name="comparator", value_name="score")


def _heatmap(values: list[dict], title: str, color_field: str = "score",
             condition: dict | None = None) -> dict:
    color: dict = {"field": color_field, "type": "quantitative"}
    if condition is not None:
        color = {"condition": condition, "value": "lightgrey"}
    return _vegalite(
        title, values, {"type": "rect", "tooltip": True},
        {"x": {"field": "comparator", "type": "nominal"},
         "y": {"field": "strings_to_compare", "type": "nominal"},
         "color": color},
        width=300)


def comparator_score_chart(data, col1: str, col2: str) -> dict:
    """Vega-Lite heatmap of all comparator scores per pair (reference
    comparator_score_chart:83). Returns {'similarity': spec, 'distance':
    spec} — the reference renders the two scales side by side."""
    long = _melt(comparator_score_df(data, col1, col2), col1, col2)
    sim = long[long.comparator.str.contains("similarity")].copy()
    sim["comparator"] = sim.comparator.str.replace("_similarity", "")
    dist = long[long.comparator.str.contains("distance")].copy()
    dist["comparator"] = dist.comparator.str.replace("_distance", "")
    return {
        "similarity": _heatmap(sim.to_dict("records"),
                               "Similarity comparator scores"),
        "distance": _heatmap(dist.to_dict("records"),
                             "Distance comparator scores"),
    }


def comparator_score_threshold_chart(
        data, col1: str, col2: str,
        similarity_threshold: float | None = None,
        distance_threshold: float | None = None) -> dict:
    """Heatmaps highlighting pairs that pass the given thresholds
    (reference comparator_score_threshold_chart:132): cells below the
    similarity threshold / above the distance threshold grey out."""
    long = _melt(comparator_score_df(data, col1, col2), col1, col2)
    sim = long[long.comparator.str.contains("similarity")].copy()
    sim["comparator"] = sim.comparator.str.replace("_similarity", "")
    dist = long[long.comparator.str.contains("distance")].copy()
    dist["comparator"] = dist.comparator.str.replace("_distance", "")
    sim_cond = {"test": f"datum.score >= {similarity_threshold}",
                "field": "score", "type": "quantitative"} \
        if similarity_threshold is not None else None
    dist_cond = {"test": f"datum.score <= {distance_threshold}",
                 "field": "score", "type": "quantitative"} \
        if distance_threshold is not None else None
    return {
        "similarity": _heatmap(
            sim.to_dict("records"),
            f"Similarity scores (threshold {similarity_threshold})",
            condition=sim_cond),
        "distance": _heatmap(
            dist.to_dict("records"),
            f"Distance scores (threshold {distance_threshold})",
            condition=dist_cond),
    }


# ------------------------------------------------------------------ phonetic

def soundex(value: str | None) -> str | None:
    """Classic American Soundex — matches Spark SQL's soundex() builtin
    (tested against it), which is the encoding the engine would use in a
    SQL-level phonetic rule."""
    if value is None:
        return None
    s = "".join(c for c in value.upper() if c.isalpha())
    if not s:
        return value  # Spark soundex returns the input when no letters
    codes = {"B": "1", "F": "1", "P": "1", "V": "1",
             "C": "2", "G": "2", "J": "2", "K": "2", "Q": "2", "S": "2",
             "X": "2", "Z": "2", "D": "3", "T": "3", "L": "4",
             "M": "5", "N": "5", "R": "6"}
    out = s[0]
    prev = codes.get(s[0], "")
    for ch in s[1:]:
        code = codes.get(ch, "")
        if code and code != prev:
            out += code
            if len(out) == 4:
                break
        if ch not in "HW":   # H/W do not reset the previous code
            prev = code
    return (out + "000")[:4]


def phonetic_transform(value: str) -> dict[str, object]:
    """Soundex + Double Metaphone transforms of one string (reference
    phonetic_transform:190; its single-Metaphone needs the `phonetics`
    package and is represented here by the Double Metaphone primary)."""
    primary, alternate = double_metaphone(value)
    return {"soundex": soundex(value),
            "dmetaphone": (primary, alternate)}


def phonetic_transform_df(data, col1: str, col2: str) -> pd.DataFrame:
    """Pairwise phonetic transform table (reference
    phonetic_transform_df:218): [col1, col2, soundex, dmetaphone] where each
    transform column holds the [left, right] code pair."""
    df = pd.DataFrame(data)
    out = df[[col1, col2]].copy()
    out["soundex"] = [
        [soundex(a), soundex(b)] for a, b in zip(df[col1], df[col2])]
    out["dmetaphone"] = [
        [double_metaphone(a)[0], double_metaphone(b)[0]]
        for a, b in zip(df[col1], df[col2])]
    return out


def phonetic_match_chart(data, col1: str, col2: str) -> dict:
    """Heatmap of phonetic agreement per transform (reference
    phonetic_match_chart:268): 1 where the two codes agree."""
    df = phonetic_transform_df(data, col1, col2)
    records = []
    for _, row in df.iterrows():
        pair = f"{row[col1]}, {row[col2]}"
        for transform in ("soundex", "dmetaphone"):
            l, r = row[transform]
            records.append({"strings_to_compare": pair,
                            "comparator": transform,
                            "match": int(l == r), "codes": f"{l} / {r}"})
    return _heatmap(records, "Phonetic matches", color_field="match")


def profile_columns(df, db_api=None, column_expressions=None,
                    top_n: int = 10, bottom_n: int = 10,
                    columns=None) -> dict:
    """Reference splink.exploratory.profile_columns
    (profile_data.py:205-211 signature: table, db_api,
    column_expressions) — the multi-panel profiler chart spec (see
    charts.profile_columns_chart_spec; data aggregation is distributed,
    payload driver-bounded). `db_api` is accepted for signature parity
    and ignored; `columns` is this engine's original keyword, kept as an
    alias — and a list passed positionally where db_api sits is treated
    as the column list, so pre-existing positional callers keep working."""
    from .charts import profile_columns_chart_spec
    if isinstance(db_api, (list, tuple)):
        if column_expressions is not None:
            raise TypeError(
                "got a column list in the db_api position AND "
                "column_expressions")
        db_api, column_expressions = None, list(db_api)
    cols = column_expressions if column_expressions is not None else columns
    return profile_columns_chart_spec(df, columns=cols, top_n=top_n,
                                      bottom_n=bottom_n)


def completeness_chart(table_or_tables, db_api=None, cols=None,
                       table_names_for_chart=None) -> dict:
    """Reference splink.exploratory.completeness_chart
    (completeness.py:112-117): non-null share per column, per input table
    when several are given. Multi-table inputs are tagged and vertically
    concatenated (missing columns become nulls), one aggregate total."""
    from pyspark.sql import DataFrame, functions as F

    from .charts import completeness_chart_spec
    from .operators.profiling import completeness_data

    tables = (list(table_or_tables)
              if isinstance(table_or_tables, (list, tuple))
              else [table_or_tables])
    if not all(isinstance(t, DataFrame) for t in tables):
        raise TypeError("table_or_tables must be Spark DataFrame(s)")
    if len(tables) == 1:
        return completeness_chart_spec(
            completeness_data(tables[0], columns=cols))
    names = table_names_for_chart or [f"table_{i}"
                                      for i in range(len(tables))]
    marked = None
    for t, name in zip(tables, names):
        tagged = t.withColumn("source_dataset", F.lit(name))
        marked = tagged if marked is None else marked.unionByName(
            tagged, allowMissingColumns=True)
    return completeness_chart_spec(completeness_data(
        marked, source_dataset_col="source_dataset", columns=cols))
