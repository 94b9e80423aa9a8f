"""Comparison vectors: candidate pairs -> per-comparison gamma values.

Three-stage staging mirrors the fork's memory-optimized path
(/root/reference/splink/internals/comparison_vector_values.py:90-289):
  1. blocked_with_cols — pairs joined twice to nodes, carrying ONLY the
     columns the comparisons need (explicit pruning; `content` never
     travels, only its sha).
  2. comparison metrics — each expensive similarity computed ONCE per
     (comparison, kind) and aliased (ref: md5-aliased metric columns,
     comparison_level.py:228-251). This select is where the string-metric
     Arrow UDF batches run (functions.similarity.string_metric).
  3. gamma CASE ladder — null -> -1, graded levels best-first, else -> 0
     (comparison.py:170-175, comparison_level.py:564-576).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.similarity import (
    cosine_similarity_udf,
    damerau_levenshtein_udf,
    jaro_udf,
    jaro_winkler_udf,
    levenshtein_udf,
)
from ..model import Comparison, ComparisonLevel, Settings

_METRIC_KINDS = {"jaro_winkler", "jaro", "levenshtein", "damerau_levenshtein",
                 "jaccard_chars", "cosine", "pairwise_jaro",
                 "pairwise_jaro_winkler", "pairwise_damerau_levenshtein"}


def _metric_col(comp: Comparison, kind: str, column: str) -> str:
    return f"_m_{comp.name}_{kind}_{column}"


def _char_set(col: Column) -> Column:
    return F.array_distinct(F.filter(F.split(col, ""), lambda x: x != F.lit("")))


def _metric_expr(kind: str, l: Column, r: Column,
                 lev_in_python: bool = False) -> Column:
    if kind == "jaro_winkler":
        return jaro_winkler_udf(l, r)
    if kind == "jaro":
        return jaro_udf(l, r)
    if kind == "levenshtein":
        # value-identical either way up to 8192 codepoints (levenshtein_udf
        # is fuzz-pinned to the builtin, incl. NULL->NULL); past that
        # ceiling the udf raises ValueError and fails the stage, where the
        # builtin would score. When the projection ALREADY carries an
        # Arrow metric stage, the udf rides it and DuckDB's levenshtein
        # measured ~25-30% off the whole stage vs the JVM expression
        # (noop-forced A/B at 2.6M bench-shaped pairs); when no Python
        # stage exists, the JVM builtin stays — adding an Arrow boundary
        # JUST for levenshtein would pay string transfer for nothing.
        if lev_in_python:
            return levenshtein_udf(l, r)
        return F.levenshtein(l, r)  # JVM builtin: stays in codegen
    if kind == "damerau_levenshtein":
        return damerau_levenshtein_udf(l, r)
    if kind == "jaccard_chars":
        # DuckDB jaccard(): character-set Jaccard — native array ops
        inter = F.size(F.array_intersect(_char_set(l), _char_set(r)))
        union = F.size(F.array_union(_char_set(l), _char_set(r)))
        return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    if kind == "cosine":
        return cosine_similarity_udf(l, r)
    if kind.startswith("pairwise_"):
        # best cross-product metric over two array<string> columns, one
        # vectorized kernel pass per batch (functions.similarity)
        from ..functions.similarity import (
            pairwise_damerau_levenshtein_udf,
            pairwise_jaro_udf,
            pairwise_jaro_winkler_udf,
        )
        fn = {"pairwise_jaro": pairwise_jaro_udf,
              "pairwise_jaro_winkler": pairwise_jaro_winkler_udf,
              "pairwise_damerau_levenshtein":
                  pairwise_damerau_levenshtein_udf}[kind]
        return fn(l, r)
    raise ValueError(kind)


def phonetic_requirements(settings: Settings) -> list[tuple[str, str, bool]]:
    """(source_col, derived_col, alternate) for every phonetic level.
    Phonetic codes are attributes of VALUES, not pairs: they are encoded
    once per distinct node value (functions.phonetic.with_phonetic_column)
    and the level becomes a native column equality on the pair table — the
    per-string state-machine UDF never runs per pair."""
    out: list[tuple[str, str, bool]] = []
    for comp in settings.comparisons:
        for top in comp.levels:
            for lv in top.walk():
                if lv.kind in ("dmetaphone", "dmetaphone_alt"):
                    c = lv.column or comp.column
                    if (c, f"dm_{c}", False) not in out:
                        out.append((c, f"dm_{c}", False))
                    if lv.kind == "dmetaphone_alt" and \
                            (c, f"dmalt_{c}", True) not in out:
                        out.append((c, f"dmalt_{c}", True))
    return out


def ensure_phonetic_columns(nodes: DataFrame, settings: Settings) -> DataFrame:
    """Add any missing dm_*/dmalt_* columns via encode-distinct-then-join.
    No-op when the node build already materialized them (the linker path)."""
    from ..functions.phonetic import with_phonetic_column

    for col, out, alternate in phonetic_requirements(settings):
        if out not in nodes.columns:
            nodes = with_phonetic_column(nodes, col, out=out,
                                         alternate=alternate)
    return nodes


def columns_needed(settings: Settings) -> list[str]:
    """Minimal node-column set for the pair join (explicit pruning,
    ref settings.py:399-511)."""
    cols: list[str] = []
    for _, derived, _ in phonetic_requirements(settings):
        cols.append(derived)
    for comp in settings.comparisons:
        for top in comp.levels:
            for lv in top.walk():
                c = lv.column or comp.column
                if c and c not in cols:
                    cols.append(c)
                for extra in (lv.column2, lv.lat_column, lv.long_column):
                    if extra and extra not in cols:
                        cols.append(extra)
                if lv.tf_adjustment:
                    tf = f"tf_{lv.column or comp.column}"
                    if tf not in cols:
                        cols.append(tf)
                if lv.sql_condition:
                    # custom SQL references <col>_l/_r; caller ensures the
                    # bare columns are listed via comp.column or lv.column
                    pass
    for c in settings.additional_columns_to_retain:
        if c not in cols:
            cols.append(c)
    return cols


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for the optimized plan (no job).
    Classic-mode internal API; returns None where unavailable.

    NOTE: this is a PLAN estimate — it cannot see through aggregations, and
    (verified on PySpark 4.1.2) a localCheckpoint does NOT reset it: the
    stats of a checkpointed DataFrame still report the origin plan's
    pre-aggregation size. Use only on plans whose estimate is scan-shaped
    (projections of source tables); for materialized tables use
    _measured_size_bytes."""
    try:
        return int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


_FIXED_WIDTHS = {
    "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "float": 4,
    "bigint": 8, "double": 8, "date": 4, "timestamp": 8, "timestamp_ntz": 8,
}


def _measured_size_bytes(df: DataFrame) -> int | None:
    """Actual UnsafeRow-ish size of a MATERIALIZED DataFrame, from one
    JVM-side aggregate (sum of string octet lengths + fixed widths + row
    overhead). Plan stats can't give this (see _plan_size_bytes); the
    caller must have already materialized df (localCheckpoint) so this
    aggregate scans cached blocks and re-runs no upstream (Python) work.
    Returns None for schemas with variable-width non-string fields (arrays,
    maps, structs) where the width is not cheaply measurable."""
    aggs, fixed = [], 0
    for fld in df.schema.fields:
        t = fld.dataType.simpleString()
        if t == "string":
            aggs.append(
                F.sum(F.coalesce(F.octet_length(F.col(fld.name)), F.lit(0))))
        elif t in _FIXED_WIDTHS:
            fixed += 8  # UnsafeRow stores fixed-width fields in 8-byte slots
        else:
            return None
    try:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            *[a.alias(f"s{i}") for i, a in enumerate(aggs)],
        ).collect()[0]
    except Exception:
        return None
    n = row["n"] or 0
    str_bytes = sum(int(row[f"s{i}"] or 0) for i in range(len(aggs)))
    # per row: 8B null bitset word + 8B per field (offset+len or value)
    return str_bytes + n * (8 * (len(df.schema.fields) + 1) + fixed)


def pairs_with_columns(pairs: DataFrame, nodes: DataFrame,
                       settings: Settings) -> DataFrame:
    """Stage 1: (match_key, uid_l, uid_r) ⋈ nodes ⋈ nodes with minimal
    projection (comparison_vector_values.py:112-119).

    The projected node side is explicitly broadcast while its plan-stats
    estimate stays under settings.broadcast_node_join_max_bytes: pairs then
    stream through both joins with no exchange. Left to Catalyst, a node
    projection past autoBroadcastJoinThreshold (64 MB) flips to sort-merge
    and re-shuffles the (much larger) pair table twice — measured 6.6x
    per-pair slowdown at 169M pairs / 1.6M nodes. Past the cap the join
    falls back to Catalyst's strategy (or the bucketed node path)."""
    uid = settings.unique_id_column_name
    cols = columns_needed(settings)

    # ONE canonical node projection serves both join sides: the previous
    # per-side projections (columns pre-aliased to *_l / *_r) defeated
    # exchange reuse — their broadcast subtrees canonicalized differently,
    # so every scoring pass built and shipped the SAME node hash relation
    # twice (4 BroadcastExchange / 1 reuse in the executed bench plan).
    # With an identical build subtree under both joins, Catalyst reuses
    # one BroadcastExchange, and the resident footprint per executor is a
    # single copy — so the measured-size guard bounds it with est <= cap
    # (the old 2x rule assumed two resident copies). The l/r suffixes are
    # applied in the projection AFTER the joins.
    b = nodes.select(F.col(uid).alias("_nid"),
                     *[F.col(c) for c in cols])
    cap = getattr(settings, "broadcast_node_join_max_bytes", 0) or 0
    if cap:
        est = _plan_size_bytes(b)
        if est is not None and est <= cap:
            b = F.broadcast(b)

    p = pairs.alias("_p")
    out = p.join(b.alias("_ln"),
                 F.col("_p.unique_id_l") == F.col("_ln._nid"), "inner")
    out = out.join(b.alias("_rn"),
                   F.col("_p.unique_id_r") == F.col("_rn._nid"), "inner")
    return out.select(
        *[F.col(f"_p.{c}") for c in pairs.columns],
        *[F.col(f"_ln.{c}").alias(f"{c}_l") for c in cols],
        *[F.col(f"_rn.{c}").alias(f"{c}_r") for c in cols],
    )


_PYTHON_METRIC_KINDS = {"jaro_winkler", "jaro", "damerau_levenshtein",
                        "cosine", "pairwise_jaro", "pairwise_jaro_winkler",
                        "pairwise_damerau_levenshtein"}


def with_comparison_metrics(df: DataFrame, settings: Settings,
                            python_parallelism: int | None = None,
                            dedupe_inputs: bool = False) -> DataFrame:
    """Stage 2: one column per (comparison, metric-kind), computed once.

    When a pandas-UDF metric is present and `python_parallelism` is set, the
    (narrow) pair table is repartitioned first: the Arrow/Python stage is
    CPU-bound, but upstream partitioning is IO-sized — a broadcast-join
    pipeline can arrive here 1-2 partitions wide and starve every core
    (observed 6x at bench scale). One extra shuffle of ids+strings is cheap
    against O(L^2) string kernels.

    dedupe_inputs=True computes each column's PYTHON metrics over the
    DISTINCT (value_l, value_r) pairs and joins them back (null-safe keys,
    so null behavior is identical to inline). Entity-resolution columns
    (names, cities, dobs) repeat heavily across candidate pairs — the bench
    workload shows 4.7x fewer distinct path pairs than pairs — so the
    O(L^2) kernels run once per VALUE pair instead of once per candidate
    pair, at the cost of one distinct + one join-back shuffle of the narrow
    value-pair table. Opt in (settings.dedupe_metric_values) when the
    metric columns are low-cardinality relative to the pair count; leave
    off for near-unique columns where the distinct would not shrink the
    work. JVM metrics (levenshtein, array ops) always stay inline — they
    are codegen-cheap and a join would cost more than it saves.
    """
    inline: dict[str, Column] = {}
    by_col: dict[str, list[tuple[str, str]]] = {}  # col -> [(name, kind)]
    seen: set[str] = set()
    needs_python = False
    entries: list[tuple[str, str, str]] = []  # (name, kind, column)
    for comp in settings.comparisons:
        for top in comp.levels:
            for lv in top.walk():  # sub levels of And/Or/Not need metrics too
                if lv.kind not in _METRIC_KINDS:
                    continue
                c = lv.column or comp.column
                name = _metric_col(comp, lv.kind, c)
                if name in seen:
                    continue
                seen.add(name)
                entries.append((name, lv.kind, c))
                needs_python |= lv.kind in _PYTHON_METRIC_KINDS
    # levenshtein joins the Arrow stage only when one ALREADY exists on
    # this pair table (needs_python, and not diverted to the dedupe table):
    # value-identical, see _metric_expr
    lev_in_python = needs_python and not dedupe_inputs
    for name, kind, c in entries:
        if dedupe_inputs and kind in _PYTHON_METRIC_KINDS:
            by_col.setdefault(c, []).append((name, kind))
        else:
            inline[name] = _metric_expr(
                kind, F.col(f"{c}_l"), F.col(f"{c}_r"),
                lev_in_python=lev_in_python,
            ).alias(name)
    if not (inline or by_col):
        return df
    if needs_python and python_parallelism and not by_col:
        df = df.repartition(python_parallelism)
    if inline:
        df = df.select("*", *inline.values())
    for c, metrics in by_col.items():
        l_key, r_key = f"{c}_l", f"{c}_r"
        dist = df.select(l_key, r_key).distinct()
        if python_parallelism:
            dist = dist.repartition(python_parallelism)
        dist = dist.select(
            F.col(l_key).alias("_dk_l"), F.col(r_key).alias("_dk_r"),
            *[_metric_expr(kind, F.col(l_key), F.col(r_key)).alias(name)
              for name, kind in metrics],
        )
        # same silent-flip hazard as the node joins: the metric table for a
        # repetitive column is small vs the pair table, but can outgrow
        # Catalyst's 64 MB threshold, re-shuffling the pair table for the
        # join-back. Materialize the (small, deduped) metric table — also
        # guaranteeing the kernels run exactly once per value pair — then
        # MEASURE its size with one aggregate over the cached blocks. Plan
        # stats cannot be used here: they can't see the distinct's
        # cardinality, and a localCheckpoint does not reset them (the
        # checkpointed plan still reports the origin's pre-aggregation
        # estimate, which scales with the pair table and would never fire).
        cap = getattr(settings, "broadcast_node_join_max_bytes", 0) or 0
        if cap:
            dist = dist.localCheckpoint(eager=True)
            est = _measured_size_bytes(dist)
            if est is not None and est <= cap:
                dist = F.broadcast(dist)
        df = df.join(
            dist,
            df[l_key].eqNullSafe(dist["_dk_l"])
            & df[r_key].eqNullSafe(dist["_dk_r"]),
            "left",
        ).drop("_dk_l", "_dk_r")
    return df


def _level_condition(comp: Comparison, lv: ComparisonLevel) -> Column:
    # composed levels (reference comparison_level_composition.py And/Or/
    # Not): combine the sub levels' conditions — each sub condition stays
    # a native Column expr, so composition costs nothing at plan time
    if lv.kind == "and":
        out = None
        for s in lv.sub_levels:
            cond = _level_condition(comp, s)
            out = cond if out is None else out & cond
        return out
    if lv.kind == "or":
        out = None
        for s in lv.sub_levels:
            cond = _level_condition(comp, s)
            out = cond if out is None else out | cond
        return out
    if lv.kind == "not":
        return ~_level_condition(comp, lv.sub_levels[0])
    c = lv.column or comp.column
    l, r = (F.col(f"{c}_l"), F.col(f"{c}_r")) if c else (None, None)
    if lv.kind == "null":
        # expression-based null levels (e.g. try_to_timestamp(c_l, ..) IS
        # NULL OR ..) arrive from imported reference settings JSON
        if lv.sql_condition:
            return F.expr(lv.sql_condition)
        return l.isNull() | r.isNull()
    if lv.kind == "exact":
        return l == r
    if lv.kind == "literal":
        return (l == F.lit(lv.literal)) & (r == F.lit(lv.literal))
    if lv.kind == "custom":
        return F.expr(lv.sql_condition)
    if lv.kind == "array_intersect":
        return F.size(F.array_intersect(l, r)) >= F.lit(int(lv.threshold))
    if lv.kind == "array_subset":
        # size(intersect) = least(size(l), size(r)), both non-empty
        # (comparison_level_library.py:946-985)
        return (F.size(l) > 0) & (F.size(r) > 0) & (
            F.size(F.array_intersect(l, r)) == F.least(F.size(l), F.size(r)))
    if lv.kind == "abs_diff":
        return F.abs(l - r) <= F.lit(lv.threshold)
    if lv.kind == "pct_diff":
        return (F.abs(l - r) / F.greatest(l, r)) < F.lit(lv.threshold)
    if lv.kind == "date_diff_seconds":
        return F.abs(
            F.unix_timestamp(l) - F.unix_timestamp(r)
        ) <= F.lit(lv.threshold)
    if lv.kind == "columns_reversed":
        # a_l = b_r AND b_l = a_r (comparison_level_library.py:356-396)
        b_l, b_r = F.col(f"{lv.column2}_l"), F.col(f"{lv.column2}_r")
        return (l == b_r) & (b_l == r)
    if lv.kind == "distance_in_km":
        # haversine (comparison_level_library.py:812-864), pure trig expr
        lat_l = F.radians(F.col(f"{lv.lat_column}_l"))
        lat_r = F.radians(F.col(f"{lv.lat_column}_r"))
        dlat = lat_r - lat_l
        dlon = F.radians(F.col(f"{lv.long_column}_r")) - \
            F.radians(F.col(f"{lv.long_column}_l"))
        a = F.pow(F.sin(dlat / 2), 2) + \
            F.cos(lat_l) * F.cos(lat_r) * F.pow(F.sin(dlon / 2), 2)
        dist_km = 2 * 6371.0 * F.asin(F.sqrt(a))
        return dist_km <= F.lit(lv.threshold)
    if lv.kind == "dmetaphone":
        # phonetic equality on the primary Double Metaphone code
        # (reference Scala UDF Dmetaphone, spark/jar_location.py:52-58).
        # dm_<col> is precomputed on the NODE table (encode-distinct-join,
        # ensure_phonetic_columns) so this is a native column equality —
        # the state-machine encoder never runs on the pair table.
        return F.col(f"dm_{c}_l") == F.col(f"dm_{c}_r")
    if lv.kind == "dmetaphone_alt":
        # match if either the primary or the alternate codes agree
        return (F.col(f"dm_{c}_l") == F.col(f"dm_{c}_r")) | \
            (F.col(f"dmalt_{c}_l") == F.col(f"dmalt_{c}_r"))
    if lv.kind == "qgram_jaccard":
        # q-gram token-set Jaccard (QgramTokeniser equivalent)
        from ..functions.phonetic import qgram_tokenise
        a, b = qgram_tokenise(l, 2), qgram_tokenise(r, 2)
        inter = F.size(F.array_intersect(a, b))
        union = F.size(F.array_union(a, b))
        j = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
        return j >= F.lit(lv.threshold)
    if lv.kind == "pairwise_levenshtein":
        # best pairwise distance between two string arrays
        # (comparison_level_library.py:598-692): native higher-order fns +
        # JVM levenshtein inside the lambda
        best = F.array_min(F.flatten(F.transform(
            l, lambda x: F.transform(r, lambda y: F.levenshtein(x, y)))))
        return best <= F.lit(int(lv.threshold))
    if lv.kind in _METRIC_KINDS:
        m = F.col(_metric_col(comp, lv.kind, c))
        if lv.kind in ("levenshtein", "damerau_levenshtein",
                       "pairwise_damerau_levenshtein"):
            return m <= F.lit(lv.threshold)
        return m >= F.lit(lv.threshold)
    raise ValueError(lv.kind)


def gamma_column(comp: Comparison) -> Column:
    """CASE null -> -1, graded best-first, else -> 0."""
    expr = None
    null_lv = comp.null_level
    if null_lv is not None:
        expr = F.when(_level_condition(comp, null_lv), F.lit(-1))
    for gamma, lv in comp.graded_levels:
        if lv.kind == "else":
            continue
        cond = _level_condition(comp, lv)
        expr = F.when(cond, F.lit(gamma)) if expr is None else expr.when(cond, F.lit(gamma))
    expr = F.lit(0) if expr is None else expr.otherwise(F.lit(0))
    return expr.cast("int").alias(comp.gamma_column)


def needs_python_metrics(settings: Settings) -> bool:
    return any(lv.kind in _PYTHON_METRIC_KINDS
               for comp in settings.comparisons
               for top in comp.levels for lv in top.walk())


def compute_comparison_vectors(
    pairs: DataFrame, nodes: DataFrame, settings: Settings,
    retain_columns: bool | None = None,
    python_parallelism: int | None = None,
) -> DataFrame:
    """pairs + nodes -> (uid_l, uid_r, match_key?, gamma_*, [retained]).

    When a pandas-UDF metric is present, the NARROW pair table (ids +
    match_key only) is repartitioned to CPU-sized parallelism before the
    node joins: a broadcast-join pipeline otherwise arrives at the
    Arrow/Python stage 1-2 partitions wide and starves every core (observed
    6x at bench scale). Repartitioning before the joins moves 3 id columns
    through the shuffle instead of the joined string payload — the
    downstream metric stage inherits the width through the broadcast joins
    (a sort-merge join re-shuffles by key to shuffle.partitions, which is
    CPU-sized by construction)."""
    retain = settings.retain_matching_columns if retain_columns is None \
        else retain_columns
    if python_parallelism is None:
        # one balanced wave over the cores: round-robin repartition (the
        # narrow-input case) spreads rows evenly, and the per-task Python
        # dispatch cost makes extra waves a measured net loss (2.5s vs 2.6s
        # at 1x vs 2x cores at bench shape, 2.1s vs 1.2s at 4x)
        python_parallelism = pairs.sparkSession.sparkContext.defaultParallelism
    if python_parallelism and needs_python_metrics(settings) \
            and not settings.dedupe_metric_values:
        # with dedupe_metric_values the kernels run on the separately
        # repartitioned DISTINCT value-pair table — shuffling the full pair
        # table here would be pure wasted I/O.
        # Only repartition when the incoming pair table is actually
        # NARROWER than the cores: the hazard this guards against is a
        # broadcast-join pipeline arriving 1-2 partitions wide, but a pair
        # table that is already cores-wide (e.g. a materialized blocking
        # output) gains nothing from the shuffle — it just re-moves every
        # row before the Arrow stage (measured: ~30% of the whole scoring
        # wall at bench shape). Conversely, a pair table MUCH wider than
        # the cores pays a measurable per-task cost at the Python
        # evaluation (worker handshake + Arrow stream setup per task: a
        # trivial pandas UDF over the same rows took 2.4x longer at 128
        # tasks than at 32 on 32 cores); coalesce — narrow, no shuffle,
        # locality-preserving — brings the stage back to
        # `python_parallelism` tasks. This whole pipeline streams (scan ->
        # broadcast join -> Arrow batches -> partial agg), so the bigger
        # merged tasks hold no per-task state beyond one Arrow batch.
        try:
            cur = pairs.rdd.getNumPartitions()
        except Exception:
            cur = 0
        dp = pairs.sparkSession.sparkContext.defaultParallelism
        if cur < dp:
            pairs = pairs.repartition(python_parallelism)
        elif cur > python_parallelism:
            pairs = pairs.coalesce(python_parallelism)
    nodes = ensure_phonetic_columns(nodes, settings)
    df = pairs_with_columns(pairs, nodes, settings)
    df = with_comparison_metrics(
        df, settings,
        python_parallelism=(python_parallelism
                            if settings.dedupe_metric_values else None),
        dedupe_inputs=settings.dedupe_metric_values)
    keep = ["unique_id_l", "unique_id_r"]
    if "match_key" in df.columns:
        keep.append("match_key")
    gammas = [gamma_column(c) for c in settings.comparisons]
    tf_cols = [
        F.col(f"tf_{lv.column or comp.column}_{s}")
        for comp in settings.comparisons
        for lv in comp.levels if lv.tf_adjustment
        for s in ("l", "r")
    ]
    extra: list[Column] = []
    if retain:
        used = set(keep)
        for c in columns_needed(settings):
            for s in ("l", "r"):
                name = f"{c}_{s}"
                if name in df.columns and name not in used:
                    used.add(name)
                    extra.append(F.col(name))
    else:
        extra = [c for c in tf_cols]
    for c in settings.additional_columns_to_retain:
        extra += [F.col(f"{c}_l"), F.col(f"{c}_r")]
    # dedupe expression list by output name
    seen: set[str] = set(keep)
    final: list[Column] = [F.col(k) for k in keep] + gammas
    for col in extra:
        name = df.select(col).columns[0]
        if name not in seen and f"gamma_" not in name:
            seen.add(name)
            final.append(col)
    return df.select(*final)
