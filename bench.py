#!/usr/bin/env python
"""Benchmark: candidate-pairs-scored/sec on the repo-file dedupe pipeline.

Default mode (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: every core) and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "pairs/s", "queries": {...}, "sf": ...}

--scaling mode (north-rule evidence): runs the identical scoring job at
local[8] and local[32] on the same input and reports throughput at both plus
scaling efficiency = (pairs/sec@32) / (4 * pairs/sec@8).

The bench input is the documents table exploded into K deterministic
perturbed variants per doc (path edits, sub-repo spread), giving a realistic
blocking distribution (~hundreds of rows per key) and ~1-2M candidate pairs
scored through the vectorized Jaro-Winkler/levenshtein comparison stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from memory_optimized_splink_spark import entry_queries as EQ
from memory_optimized_splink_spark.operators.blocking import block_using_rules
from memory_optimized_splink_spark.operators.cluster import (
    solve_connected_components,
)
from memory_optimized_splink_spark.operators.score import predict as predict_op
from memory_optimized_splink_spark.operators.vectors import (
    compute_comparison_vectors,
)
from memory_optimized_splink_spark.session import get_spark


def build_bench_nodes(spark: SparkSession, sf_dir: str,
                      variants: int = 40) -> DataFrame:
    """documents x `variants` deterministic perturbed copies, shaped like the
    BASELINE.json input (repo/path/commit/lang/content)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = F.col("variant")
    d = docs.select(
        "doc_id", "lang", "source", "text",
        F.explode(F.sequence(F.lit(0), F.lit(variants - 1))).alias("variant"),
    )
    stem = F.concat(F.lit("doc"), (F.col("doc_id") % 997).cast("string"))
    # variant 0 keeps the base path; others get small edits so the
    # Jaro-Winkler / levenshtein levels fire at realistic rates
    perturbed = F.when(v % 4 == 0, stem) \
        .when(v % 4 == 1, F.concat(stem, F.lit("_old"))) \
        .when(v % 4 == 2, F.upper(stem)) \
        .otherwise(F.concat(stem, v.cast("string")))
    rf = d.select(
        F.concat(F.lit("org"), (F.col("doc_id") % 7).cast("string"),
                 F.lit("/repo"), (F.col("doc_id") % 101).cast("string"),
                 F.lit("_"), (v % 16).cast("string")).alias("repo"),
        F.concat(F.lit("src/"), F.col("source"), F.lit("/"), perturbed,
                 F.lit("."), F.col("lang")).alias("path"),
        F.sha2(F.concat(F.lit("c"), F.col("doc_id").cast("string"),
                        F.lit("-"), v.cast("string")), 256).substr(1, 40)
        .alias("commit"),
        "lang",
        # half the variants share the base content (true duplicates)
        F.when(v % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v"), v.cast("string")))
        .alias("content"),
    )
    from memory_optimized_splink_spark.operators.nodes import derive_repo_file_ids
    return derive_repo_file_ids(rf)


def _warmup(spark: SparkSession) -> None:
    """First pandas-UDF call forks + imports in every Python worker (~15s on
    32 cores); run it on a tiny frame so timings measure steady state."""
    from memory_optimized_splink_spark.functions.similarity import (
        jaro_winkler_udf,
    )
    spark.range(2000).select(
        F.sum(jaro_winkler_udf(F.lit("warm"), F.lit("worm")))).collect()


def _partition_skew(pairs: DataFrame) -> dict:
    """Peak-partition skew of the blocking output (scale evidence: a hot
    blocking key shows up as max >> mean partition rows). groupBy only
    yields rows for NON-empty partitions, so fill zeros up to the RDD's
    partition count — an all-empty tail is itself skew evidence. Runs as
    one streaming pass over `pairs`; nothing is materialized, so it also
    serves the ~1B-pair mode where storing the pair table is off-limits."""
    counts = {r["pid"]: r["c"] for r in pairs.groupBy(
        F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("c")).collect()}
    n_part = max(pairs.rdd.getNumPartitions(),
                 max(counts, default=-1) + 1)
    psizes = [counts.get(i, 0) for i in range(n_part)]
    total = sum(psizes)
    return {
        "n": n_part,
        "max_rows": max(psizes, default=0),
        "mean_rows": round(total / n_part, 1) if n_part else 0.0,
        "skew_ratio": (round(max(psizes) * n_part / total, 2)
                       if total else None),
        "n_rows_total": total,
    }


def cc_scale(spark: SparkSession, sf_dir: str, variants: int = 560) -> dict:
    """Third scale point (README 100-TB trend line): blocking -> CC at
    ~0.5-1B candidate pairs, SCORING SKIPPED — at this scale a single
    scoring pass is hours on one box and adds nothing to what this run
    measures (CC round growth + blocking skew at the next order of
    magnitude). The pair table is never materialized: its count and
    partition skew come from one streaming aggregate over the blocking
    join. The CC edge set is the deterministic first blocking rule's pairs
    (content_sha equality — the true-duplicate cliques the 0.9-threshold
    predict keeps); CC compacts them to 8-byte ids before its own
    checkpoint, so the only large materialization is 16 B/edge."""
    from dataclasses import replace

    s = EQ.entry_settings()
    out: dict = {"variants": variants,
                 "mode": "cc_scale: blocking skew + CC only, score skipped "
                         "(edges = content_sha-equal pairs)"}

    t0 = time.time()
    par = spark.sparkContext.defaultParallelism * 4
    nodes = build_bench_nodes(spark, sf_dir, variants).repartition(par)
    nodes = nodes.localCheckpoint(eager=True)
    out["n_rows"] = nodes.count()
    out["t_build"] = round(time.time() - t0, 2)

    t0 = time.time()
    pairs = block_using_rules(nodes, s) \
        .select("match_key", "unique_id_l", "unique_id_r")
    out["pair_partitions"] = _partition_skew(pairs)
    out["n_pairs"] = out["pair_partitions"].pop("n_rows_total")
    out["t_block_scan"] = round(time.time() - t0, 2)

    t0 = time.time()
    s0 = replace(s, blocking_rules=(s.blocking_rules[0],))
    edges = block_using_rules(nodes, s0) \
        .select("unique_id_l", "unique_id_r")
    out["n_edges"] = edges.count()
    out["t_edge_count"] = round(time.time() - t0, 2)

    cc_stats: dict = {}
    t0 = time.time()
    member = solve_connected_components(nodes, edges, stats=cc_stats)
    out["n_clusters"] = member.select("cluster_id").distinct().count()
    out["t_cluster"] = round(time.time() - t0, 2)
    out["cc_rounds"] = cc_stats.get("rounds")
    out["cc_round_secs"] = cc_stats.get("round_secs")
    return out


def run_pipeline(spark: SparkSession, sf_dir: str, variants: int = 40) -> dict:
    s = EQ.entry_settings()
    out: dict = {}
    _warmup(spark)

    t0 = time.time()
    par = spark.sparkContext.defaultParallelism * 2
    nodes = build_bench_nodes(spark, sf_dir, variants).repartition(par)
    nodes = nodes.localCheckpoint(eager=True)  # isolate input build time
    out["n_rows"] = nodes.count()
    out["t_build"] = time.time() - t0

    t0 = time.time()
    pairs = block_using_rules(nodes, s).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    out["n_pairs"] = n_pairs
    out["t_block"] = time.time() - t0

    out["pair_partitions"] = _partition_skew(pairs)

    # two timed scoring runs; keep the steady-state (the sandbox VM is
    # noisy and the first run may still page in worker state). The timed
    # section is forced by an aggregate over match_weight (which pulls every
    # gamma, metric UDF batch and Bayes-factor CASE through execution) —
    # NOT by localCheckpoint: storing 2.6M wide rows in the block manager
    # twice measures the storage layer, and the second run inherits the
    # first run's memory pressure (observed 7.7s -> 33s on this VM).
    times = []
    for _ in range(3):
        t0 = time.time()
        cv = compute_comparison_vectors(pairs, nodes, s)
        pred = predict_op(cv, s)
        row = pred.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("match_weight").alias("sw")).collect()[0]
        out["n_scored"] = row["n"]
        times.append(time.time() - t0)
    assert out["n_scored"] == n_pairs
    out["t_score_runs"] = [round(t, 3) for t in times]
    out["t_score"] = min(times)
    out["pairs_scored_per_sec"] = n_pairs / out["t_score"]

    # materialize predictions once (untimed) as the clustering input
    pred = predict_op(compute_comparison_vectors(pairs, nodes, s), s) \
        .select("unique_id_l", "unique_id_r", "match_probability") \
        .localCheckpoint(eager=True)
    pred.count()

    # CC timed like scoring: steady-state of 2 runs (same noisy-VM rule)
    edges = pred.where(F.col("match_probability") >= 0.9) \
        .select("unique_id_l", "unique_id_r")
    cc_times = []
    cc_stats: dict = {}
    for _ in range(2):
        t0 = time.time()
        member = solve_connected_components(nodes, edges, stats=cc_stats)
        out["n_clusters"] = member.select("cluster_id").distinct().count()
        cc_times.append(time.time() - t0)
    out["t_cluster_runs"] = [round(t, 3) for t in cc_times]
    out["t_cluster"] = min(cc_times)
    out["cc_rounds"] = cc_stats.get("rounds")
    return out


def scale_evidence(spark: SparkSession, sf_dir: str,
                   variants: int = 320) -> dict:
    """One-pass large-scale pipeline evidence (the 10x-up run): blocking ->
    single timed scoring pass -> single CC pass, reporting per-stage wall
    time, cc rounds, and pair-partition skew. One pass each because at
    ~150M+ pairs a single pass is already minutes of steady-state work —
    the 3-run min protocol is for the small, noise-dominated headline."""
    s = EQ.entry_settings()
    out: dict = {"variants": variants}
    _warmup(spark)

    t0 = time.time()
    par = spark.sparkContext.defaultParallelism * 4
    nodes = build_bench_nodes(spark, sf_dir, variants).repartition(par)
    nodes = nodes.localCheckpoint(eager=True)
    out["n_rows"] = nodes.count()
    out["t_build"] = round(time.time() - t0, 2)

    t0 = time.time()
    pairs = block_using_rules(nodes, s) \
        .select("match_key", "unique_id_l", "unique_id_r") \
        .localCheckpoint(eager=True)
    n_pairs = pairs.count()
    out["n_pairs"] = n_pairs
    out["t_block"] = round(time.time() - t0, 2)

    out["pair_partitions"] = _partition_skew(pairs)

    t0 = time.time()
    cv = compute_comparison_vectors(pairs, nodes, s)
    pred = predict_op(cv, s)
    row = pred.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("match_weight").alias("sw")).collect()[0]
    assert row["n"] == n_pairs
    out["t_score"] = round(time.time() - t0, 2)
    out["pairs_scored_per_sec"] = round(n_pairs / out["t_score"], 1)

    t0 = time.time()
    edges = predict_op(compute_comparison_vectors(pairs, nodes, s), s) \
        .where(F.col("match_probability") >= 0.9) \
        .select("unique_id_l", "unique_id_r") \
        .localCheckpoint(eager=True)
    out["n_edges"] = edges.count()
    out["t_score_materialize_edges"] = round(time.time() - t0, 2)

    cc_stats: dict = {}
    t0 = time.time()
    member = solve_connected_components(nodes, edges, stats=cc_stats)
    out["n_clusters"] = member.select("cluster_id").distinct().count()
    out["t_cluster"] = round(time.time() - t0, 2)
    out["cc_rounds"] = cc_stats.get("rounds")
    return out


def scoring_throughput(spark: SparkSession, sf_dir: str,
                       variants: int = 100, partitions: int = 128,
                       runs: int = 3) -> dict:
    """Pure scoring throughput (pairs-scored/sec): the pair table is built
    and pre-joined UNTIMED; the timed section is metrics (vectorized JW batch
    + JVM levenshtein) -> gamma CASE -> Bayes factors -> match weights,
    forced via an aggregate (no output materialization). This is the stage
    whose throughput the north rule tracks across cluster sizes.

    `partitions` is FIXED across parallelism levels — comparing local[8] to
    local[32] with parallelism-derived partition counts measures partition
    asymmetry, not scaling. Timed twice; steady-state (min) reported."""
    from memory_optimized_splink_spark.operators.vectors import (
        gamma_column, pairs_with_columns, with_comparison_metrics,
    )

    s = EQ.entry_settings()
    _warmup(spark)
    nodes = build_bench_nodes(spark, sf_dir, variants).repartition(partitions) \
        .localCheckpoint(eager=True)
    n_rows = nodes.count()
    pairs = block_using_rules(nodes, s).repartition(partitions) \
        .localCheckpoint(eager=True)
    n_pairs = pairs.count()
    pw = pairs_with_columns(pairs, nodes, s).repartition(partitions) \
        .localCheckpoint(eager=True)
    pw.count()

    times = []
    for _ in range(runs):
        t0 = time.time()
        m = with_comparison_metrics(pw, s, python_parallelism=None)
        cv = m.select("unique_id_l", "unique_id_r",
                      *[gamma_column(c) for c in s.comparisons])
        pred = predict_op(cv, s)
        row = pred.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("match_weight").alias("sw")).collect()[0]
        times.append(time.time() - t0)
        assert row["n"] == n_pairs
    t = min(times)
    return {"n_rows": n_rows, "n_pairs": n_pairs, "t_score_runs": times,
            "t_score": t, "pairs_scored_per_sec": n_pairs / t}


def run_extra_queries(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    from memory_optimized_splink_spark.operators.dedup import (
        embedding_cosine_pairs, minhash_lsh_pairs,
    )

    extras = {}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    minhash_lsh_pairs(docs, "doc_id", "text").count()  # production xxhash64 path
    extras["minhash_lsh"] = round(time.time() - t0, 3)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t0 = time.time()
    embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.9).count()
    extras["embedding_srp"] = round(time.time() - t0, 3)
    for name in ["ann_topk", "exact_dedup", "text_quality", "largest_blocks"]:
        t0 = time.time()
        EQ.QUERIES[name](spark, sf_dir).count()
        extras[name] = round(time.time() - t0, 3)
    return extras


def skew_experiment(spark: SparkSession, sf_dir: str) -> dict:
    """Measured hot-key splitting evidence: a planted hot blocking key
    (8k rows -> ~32M intra-key pairs) counted with and without explicit
    hot-key salting. Identical pair counts; wall time and max-task size
    differ (north rule: measured skew splitting, not post-hoc only)."""
    from dataclasses import replace

    from memory_optimized_splink_spark.model import block_on
    from memory_optimized_splink_spark import entry_queries as EQ2

    _warmup(spark)
    nodes = build_bench_nodes(spark, sf_dir, variants=40)
    # plant the hot key: ~4% of rows collapse onto one repo
    nodes = nodes.withColumn(
        "repo",
        F.when(F.xxhash64("commit") % 25 == 0, F.lit("org0/hot_repo"))
        .otherwise(F.col("repo")),
    ).repartition(64).localCheckpoint(eager=True)
    n = nodes.count()
    out: dict = {"n_rows": n}
    s = EQ2.entry_settings()
    for label, rule in [
        ("plain", block_on("repo")),
        ("hot_key_split", block_on("repo", hot_key_threshold=2000,
                                   salting_partitions=32)),
    ]:
        s2 = replace(s, blocking_rules=(rule,))
        t0 = time.time()
        cnt = block_using_rules(nodes, s2).count()
        out[label] = {"pairs": cnt, "wall_sec": round(time.time() - t0, 2)}
    assert out["plain"]["pairs"] == out["hot_key_split"]["pairs"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--skew", action="store_true")
    ap.add_argument("--cc-scale", action="store_true",
                    help="blocking-skew + CC-only run at ~0.5-1B candidate "
                         "pairs (scoring skipped; default --variants 560)")
    ap.add_argument("--scale-evidence", action="store_true",
                    help="one-pass large-variants pipeline run "
                         "(per-stage times, cc rounds, partition skew)")
    ap.add_argument("--variants", type=int, default=40)
    ap.add_argument("--scale-n", type=int, default=4,
                    help="scaling mode compares local[N] vs local[4N]")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    def _parts(default: int) -> int:
        """Session shuffle partitions: each mode's CPU-derived default,
        overridable via SPARK_GRAFT_SHUFFLE_PARTITIONS. The session value
        is also the UPPER BOUND `_star_partitions` will size CC rounds to,
        so billion-pair runs need it above the 128 default (625M edges at
        128 reducers is ~10M rows/partition)."""
        env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        return int(env) if env else default

    if args.skew:
        spark = get_spark(app_name="bench-skew", master=f"local[{cpus}]",
                          shuffle_partitions=_parts(max(cpus, 16)))
        r = skew_experiment(spark, sf_dir)
        spark.stop()
        print(json.dumps({"metric": "hot_key_split_speedup",
                          "value": round(r["plain"]["wall_sec"]
                                         / r["hot_key_split"]["wall_sec"], 3),
                          "unit": "ratio", "detail": r, "sf": sf}))
        return

    if args.scale_evidence:
        spark = get_spark(app_name="bench-scale", master=f"local[{cpus}]",
                          shuffle_partitions=_parts(max(cpus * 4, 128)))
        r = scale_evidence(spark, sf_dir, args.variants)
        print(json.dumps({"metric": "scale_evidence_pairs_scored_per_sec",
                          "value": r["pairs_scored_per_sec"],
                          "unit": "pairs/sec", "detail": r, "sf": sf}))
        spark.stop()
        return

    if args.cc_scale:
        spark = get_spark(app_name="bench-cc-scale", master=f"local[{cpus}]",
                          shuffle_partitions=_parts(max(cpus * 4, 128)))
        r = cc_scale(spark, sf_dir,
                     args.variants if args.variants != 40 else 560)
        print(json.dumps({"metric": "cc_scale_rounds",
                          "value": r["cc_rounds"],
                          "unit": "rounds", "detail": r, "sf": sf}))
        spark.stop()
        return

    if args.scaling:
        results = {}
        for n in (args.scale_n, args.scale_n * 4):
            spark = get_spark(app_name=f"bench-local{n}",
                              master=f"local[{n}]",
                              shuffle_partitions=max(n * 2, 16))
            # 5 timed runs per level: the sandbox VM's noise is +-50%, so
            # the steady-state min needs several chances per level to land
            # in a quiet window (asymmetric noise otherwise skews the ratio)
            r = scoring_throughput(spark, sf_dir, max(args.variants, 100),
                                   runs=5)
            spark.stop()
            results[f"local[{n}]"] = r
        lo, hi = args.scale_n, args.scale_n * 4
        tput_lo = results[f"local[{lo}]"]["pairs_scored_per_sec"]
        tput_hi = results[f"local[{hi}]"]["pairs_scored_per_sec"]
        print(json.dumps({
            "metric": f"scaling_efficiency_local{lo}_to_local{hi}",
            "value": round(tput_hi / (4 * tput_lo), 4),
            "unit": "ratio",
            "pairs_scored_per_sec": {f"local[{lo}]": round(tput_lo, 1),
                                     f"local[{hi}]": round(tput_hi, 1)},
            "detail": results,
            "sf": sf,
        }))
        return

    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=_parts(max(cpus, 16)))
    r = run_pipeline(spark, sf_dir, args.variants)
    extras = run_extra_queries(spark, sf_dir)
    queries = {
        "blocking": round(r["t_block"], 3),
        "score_predict": round(r["t_score"], 3),
        "cluster_cc": round(r["t_cluster"], 3),
        **extras,
    }
    print(json.dumps({
        "metric": "candidate_pairs_scored_per_sec",
        "value": round(r["pairs_scored_per_sec"], 1),
        "unit": "pairs/s",
        "queries": queries,
        "sf": sf,
        "n_rows": r["n_rows"],
        "n_pairs": r["n_pairs"],
        "n_clusters": r["n_clusters"],
        "cc_rounds": r["cc_rounds"],
        "pair_partitions": r["pair_partitions"],
        "t_score_runs": r["t_score_runs"],  # steady-state = min (noisy VM)
    }))
    spark.stop()


if __name__ == "__main__":
    main()
