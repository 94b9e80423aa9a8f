#!/usr/bin/env python
"""Round-6 optimization harness: per-stage isolation of the bench queries.

NOT the driver bench (bench.py is frozen). Each stage is timed with the
noop sink (guide §1.4) or the exact aggregate bench.py uses, with
setJobDescription labels (§1.5). Prints one JSON line per mode.

Modes:
  --stages      per-stage breakdown of blocking / score / cc at bench shape
  --minhash     minhash_lsh signature vs full pipeline isolation
  --srp         embedding_srp stage isolation
  --ann         ann_topk isolation
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import DataFrame, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build_bench_nodes, _warmup  # noqa: E402 (round-start copy)
from memory_optimized_splink_spark import entry_queries as EQ  # noqa: E402
from memory_optimized_splink_spark.operators.blocking import (  # noqa: E402
    block_using_rules,
)
from memory_optimized_splink_spark.operators.cluster import (  # noqa: E402
    solve_connected_components,
)
from memory_optimized_splink_spark.operators.score import (  # noqa: E402
    predict as predict_op,
)
from memory_optimized_splink_spark.operators.vectors import (  # noqa: E402
    compute_comparison_vectors,
    gamma_column,
    pairs_with_columns,
    with_comparison_metrics,
)
from memory_optimized_splink_spark.session import get_spark  # noqa: E402


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn, n=1):
    ts = []
    for _ in range(n):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        fn()
        ts.append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    return ts


def stages(spark, sf_dir: str) -> dict:
    s = EQ.entry_settings()
    out: dict = {}
    _warmup(spark)
    par = spark.sparkContext.defaultParallelism * 2
    nodes = build_bench_nodes(spark, sf_dir, 40).repartition(par) \
        .localCheckpoint(eager=True)
    nodes.count()

    # --- blocking
    out["block_noop"] = timed(
        spark, "block: join only (noop)",
        lambda: noop(block_using_rules(nodes, s)), 3)
    ck = {}

    def block_ck():
        p = block_using_rules(nodes, s).localCheckpoint(eager=True)
        ck["pairs"] = p
        ck["n"] = p.count()
    out["block_ckpt_count"] = timed(spark, "block: ckpt+count (bench)",
                                    block_ck, 3)
    pairs = ck["pairs"]
    out["n_pairs"] = ck["n"]
    out["pair_parts"] = pairs.rdd.getNumPartitions()

    # --- score stages
    out["score_repart_only"] = timed(
        spark, "score: repartition pairs only",
        lambda: noop(pairs.repartition(2 * spark.sparkContext
                                       .defaultParallelism)), 2)
    pw = pairs_with_columns(pairs, nodes, s)
    out["score_join_noop"] = timed(
        spark, "score: node joins only (noop)", lambda: noop(pw), 2)
    m = with_comparison_metrics(pw, s)
    out["score_join_metrics_noop"] = timed(
        spark, "score: joins+metrics (noop)", lambda: noop(m), 2)
    cv_cols = ["unique_id_l", "unique_id_r",
               *[gamma_column(c) for c in s.comparisons]]

    def full():
        cv = compute_comparison_vectors(pairs, nodes, s)
        pred = predict_op(cv, s)
        pred.agg(F.count(F.lit(1)), F.sum("match_weight")).collect()
    out["score_full_agg"] = timed(spark, "score: full (bench agg)", full, 3)

    # --- cc stages
    pred = predict_op(compute_comparison_vectors(pairs, nodes, s), s) \
        .select("unique_id_l", "unique_id_r", "match_probability") \
        .localCheckpoint(eager=True)
    pred.count()
    edges = pred.where(F.col("match_probability") >= 0.9) \
        .select("unique_id_l", "unique_id_r")
    cc_stats: dict = {}

    def cc():
        member = solve_connected_components(nodes, edges, stats=cc_stats)
        member.select("cluster_id").distinct().count()
    out["cc_full"] = timed(spark, "cc: full (bench)", cc, 3)
    out["cc_stats"] = cc_stats
    return out


def minhash(spark, sf_dir: str) -> dict:
    from memory_optimized_splink_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_signatures,
    )
    out: dict = {}
    _warmup(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()
    out["n_docs"] = docs.count()
    out["sig_noop"] = timed(
        spark, "minhash: signatures only (noop)",
        lambda: noop(minhash_signatures(docs, "doc_id", "text")), 3)
    out["full_count"] = timed(
        spark, "minhash: full lsh pairs count (bench)",
        lambda: minhash_lsh_pairs(docs, "doc_id", "text").count(), 3)
    return out


def srp(spark, sf_dir: str) -> dict:
    from memory_optimized_splink_spark.operators.dedup import (
        embedding_cosine_pairs,
    )
    out: dict = {}
    _warmup(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out["n_vecs"] = emb.count()
    out["full_count"] = timed(
        spark, "srp: full (bench)",
        lambda: embedding_cosine_pairs(emb, "vec_id", "embedding",
                                       threshold=0.9).count(), 3)
    return out


def ann(spark, sf_dir: str) -> dict:
    out: dict = {}
    _warmup(spark)
    out["full_count"] = timed(
        spark, "ann_topk (bench)",
        lambda: EQ.QUERIES["ann_topk"](spark, sf_dir).count(), 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stages", action="store_true")
    ap.add_argument("--minhash", action="store_true")
    ap.add_argument("--srp", action="store_true")
    ap.add_argument("--ann", action="store_true")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark(app_name="bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 16))
    res = {}
    if args.stages:
        res["stages"] = stages(spark, sf_dir)
    if args.minhash:
        res["minhash"] = minhash(spark, sf_dir)
    if args.srp:
        res["srp"] = srp(spark, sf_dir)
    if args.ann:
        res["ann"] = ann(spark, sf_dir)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
