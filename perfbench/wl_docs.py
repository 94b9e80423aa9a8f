"""doc_near_dedup: near-duplicate documents by text and by embedding.

MinHash-LSH candidates verified by exact 5-shingle Jaccard, banded-SRP
cosine pairs, IVF top-k for a fixed query set, then connected components
over every kept pair.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

import checks
import gen
from common import force, parquet_rows, read_output, write_input

BASE_DOCS, DIM = 800, 64
WARM_DOCS = 20
QUERIES, TOP_K = 100, 10
JACCARD, COSINE = 0.8, 0.95
SHINGLE_K = 5
MIN_IVF_RECALL = 0.8


class DocNearDedup:
    name = "doc_near_dedup"

    def __init__(self, run, seed: int):
        self.run, self.seed = run, seed

    def setup(self) -> dict:
        self.docs, self.emb = gen.near_dup_corpus(self.seed, BASE_DOCS, DIM)
        rng = np.random.default_rng(self.seed)
        self.queries = np.sort(rng.choice(len(self.emb), QUERIES, replace=False))
        wdocs, wemb = gen.near_dup_corpus(self.seed + 7919, WARM_DOCS, DIM)
        for name, frame in (("docs", self.docs), ("emb", self.emb),
                            ("warm_docs", wdocs), ("warm_emb", wemb)):
            cols = ["doc_id", "text"] if "docs" in name else None
            write_input(frame[cols] if cols else frame, self.run.path("input", name))
        return {"rows": len(self.docs),
                "digest": gen.digest(self.docs, self.emb)}

    def warm_up(self) -> None:
        self._flow("warm_docs", "warm_emb", np.arange(20), "warm", False,
                   "warmup")

    def round(self, i: int, traced: bool, phase: str) -> dict:
        return self._flow("docs", "emb", self.queries, f"r{i}", traced, phase)

    def _flow(self, docs_name, emb_name, queries, tag, traced, phase) -> dict:
        from memory_optimized_splink_spark.operators.ann import ivf_topk
        from memory_optimized_splink_spark.operators.cluster import (
            solve_connected_components)
        from memory_optimized_splink_spark.operators.dedup import (
            embedding_cosine_pairs, minhash_lsh_pairs, ngram_jaccard_arrow)
        from pyspark.sql import functions as F

        run, spark = self.run, self.run.spark
        docs = spark.read.parquet(run.path("input", docs_name))
        emb = spark.read.parquet(run.path("input", emb_name))
        paths = {k: run.path("out", f"{k}_{tag}")
                 for k in ("kept", "cosine", "topk", "clusters")}
        out = {"ops": 1, "failed": 0}
        t0 = time.perf_counter()
        with run.span(phase, "dedup", "minhash"):
            cand = force(minhash_lsh_pairs(docs, "doc_id", "text",
                                           shingle_k=SHINGLE_K))
            n_cand = cand.count()
        with run.span(phase, "dedup", "verify") as sv:
            side = lambda s: docs.select(F.col("doc_id").alias(f"id_{s}"),
                                         F.col("text").alias(f"t_{s}"))
            cand.join(side("l"), "id_l").join(side("r"), "id_r") \
                .select("id_l", "id_r", ngram_jaccard_arrow(
                    F.col("t_l"), F.col("t_r"), SHINGLE_K).alias("jaccard")) \
                .where(F.col("jaccard") >= JACCARD) \
                .write.parquet(paths["kept"])
        with run.span(phase, "dedup", "srp"):
            embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=COSINE) \
                .write.parquet(paths["cosine"])
        with run.span(phase, "ann"):
            q = emb.where(F.col("vec_id").isin([int(x) for x in queries]))
            ivf_topk(emb, q, k=TOP_K).write.parquet(paths["topk"])
        stats: dict = {}
        with run.span(phase, "cluster"):
            kept = spark.read.parquet(paths["kept"]).select("id_l", "id_r")
            cos = spark.read.parquet(paths["cosine"]).select("id_l", "id_r")
            solve_connected_components(
                docs.select("doc_id"), kept.unionByName(cos), node_col="doc_id",
                edge_l="id_l", edge_r="id_r", stats=stats
            ).write.parquet(paths["clusters"])
        out["wall"] = time.perf_counter() - t0
        out["pairs"] = n_cand
        out["rate_s"] = sv["end"] - sv["start"]
        self.paths = paths
        if traced:
            kept_n = parquet_rows(paths["kept"])
            out["layer"] = {
                "dedup.candidates": n_cand,
                "dedup.kept_ratio": kept_n / max(n_cand, 1),
                "ann.recall": self.ivf_recall(),
                "cluster.rounds": stats.get("rounds", 0),
                "cluster.edges": kept_n + parquet_rows(paths["cosine"])}
        return out

    def ivf_recall(self) -> float:
        """Recall@k of the IVF result against numpy brute-force cosine."""
        top = read_output(self.paths["topk"], ["query_id", "vec_id"])
        x = np.stack(self.emb["embedding"].to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x[self.queries] @ x.T
        sims[np.arange(len(self.queries)), self.queries] = -np.inf
        exact = np.argsort(-sims, axis=1, kind="stable")[:, :TOP_K]
        got = top.groupby("query_id")["vec_id"].apply(set).to_dict()
        hits = sum(len(got.get(int(q), set()) & set(exact[i].tolist()))
                   for i, q in enumerate(self.queries))
        return hits / (len(self.queries) * TOP_K)

    def check(self) -> list[str]:
        kept = read_output(self.paths["kept"])
        cos = read_output(self.paths["cosine"])
        members = read_output(self.paths["clusters"])
        return check_dedup(self.docs, self.emb, kept, cos, members) + \
            check_recall(self.ivf_recall())


def check_recall(recall: float) -> list[str]:
    return [f"IVF recall@{TOP_K} {recall:.3f} < {MIN_IVF_RECALL}"] \
        if recall < MIN_IVF_RECALL else []


def check_dedup(docs: pd.DataFrame, emb: pd.DataFrame, kept: pd.DataFrame,
                cos: pd.DataFrame, members: pd.DataFrame) -> list[str]:
    """Kept pairs meet their thresholds when recomputed, identical texts are
    always found, and clusters equal union-find over the kept pairs."""
    errs = []
    text = docs.set_index("doc_id")["text"]
    ref = np.array([checks.shingle_jaccard(text[a], text[b], SHINGLE_K)
                    for a, b in zip(kept["id_l"], kept["id_r"])])
    if len(kept) and (ref < JACCARD).any():
        errs.append(f"{int((ref < JACCARD).sum())} kept pairs have Jaccard "
                    f"below {JACCARD}")
    if len(kept) and np.abs(ref - kept["jaccard"].to_numpy()).max() > 1e-9:
        errs.append("reported Jaccard differs from the recomputed value")
    vec = np.stack(emb.set_index("vec_id")["embedding"].to_numpy())
    vec = vec.astype(np.float64)
    vec /= np.maximum(np.linalg.norm(vec, axis=1, keepdims=True), 1e-12)
    c = (vec[cos["id_l"].to_numpy()] * vec[cos["id_r"].to_numpy()]).sum(1)
    if (c < COSINE - 1e-9).any():
        errs.append(f"{int((c < COSINE - 1e-9).sum())} cosine pairs below "
                    f"{COSINE}")
    same = docs.groupby("text")["doc_id"].apply(sorted)
    want = {(g[i], g[j]) for g in same if len(g) > 1
            for i in range(len(g)) for j in range(i + 1, len(g))}
    found = set(zip(kept["id_l"], kept["id_r"]))
    if want - found:
        errs.append(f"{len(want - found)} identical-text pairs not found")
    edges = pd.concat([kept[["id_l", "id_r"]], cos[["id_l", "id_r"]]])
    errs += checks.check_clusters(members, edges, node="node_id",
                                  left="id_l", right="id_r")
    return errs
