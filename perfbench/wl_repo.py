"""repo_resume: the repo-file dedupe flow with stage checkpoints on.

A fixed model (entry_settings, no training) runs through
SparkLinker(enable_checkpoints=True): nodes -> blocked_pairs ->
comparison_vectors -> predict -> clusters at 0.9, each stage written as
parquet and scanned for lineage metrics. A second linker on the same
checkpoint directory must resume every stage and give the same clusters.
"""

from __future__ import annotations

import json
import time

import checks
import gen
from common import (force, output_dir, parquet_rows, partition_skew,
                    read_output, write_input)

DOCS, VARIANTS = 800, 24
WARM_DOCS = 20
THRESHOLD = 0.9
SCORE_SAMPLE = 400
MIN_PRECISION, MIN_RECALL = 0.99, 0.2
STAGES = ("nodes", "blocked_pairs", "comparison_vectors", "predict",
          "clusters")


def nodes_of(spark, path: str):
    from memory_optimized_splink_spark.operators.nodes import (
        derive_repo_file_ids)
    return derive_repo_file_ids(spark.read.parquet(path))


class RepoResume:
    name = "repo_resume"

    def __init__(self, run, seed: int):
        from memory_optimized_splink_spark.entry_queries import entry_settings

        self.run, self.seed = run, seed
        self.settings = entry_settings().with_defaults()

    def setup(self) -> dict:
        self.files = gen.repo_files(self.seed, DOCS, VARIANTS)
        warm = gen.repo_files(self.seed + 7919, WARM_DOCS, VARIANTS)
        write_input(self.files.drop(columns=["entity"]), self.run.path("input"))
        write_input(warm.drop(columns=["entity"]), self.run.path("warm"))
        return {"rows": len(self.files), "digest": gen.digest(self.files)}

    def warm_up(self) -> None:
        self._flow(self.run.path("warm"), "warm", False, "warmup")

    def round(self, i: int, traced: bool, phase: str) -> dict:
        return self._flow(self.run.path("input"), f"r{i}", traced, phase)

    def _linker(self, input_path: str, ckpt: str):
        from memory_optimized_splink_spark.linker import SparkLinker
        return SparkLinker(self.run.spark, nodes_of(self.run.spark, input_path),
                           self.settings, checkpoint_dir=ckpt,
                           enable_checkpoints=True)

    def _flow(self, input_path: str, tag: str, traced: bool, phase: str
              ) -> dict:
        run = self.run
        ckpt = run.path("ckpt", tag)
        out = {"ops": 1, "failed": 0}
        t0 = time.perf_counter()
        if not traced:
            linker = self._linker(input_path, ckpt)
            with run.span(phase, "nodes"):
                linker.nodes()
            with run.span(phase, "blocking"):
                linker.blocked_pairs()
            with run.span(phase, "vectors") as sv:
                linker.comparison_vectors()
            with run.span(phase, "score") as ss:
                pred = linker.predict()
            with run.span(phase, "cluster"):
                clusters = linker.cluster(THRESHOLD)
            self.pred, self.clusters = pred, clusters
            self.resume = self._resume_linker
        else:
            sv, ss = self._traced(input_path, ckpt, phase, out)
        out["wall"] = time.perf_counter() - t0
        out["pairs"] = parquet_rows(output_dir(self.pred))
        out["rate_s"] = (sv["end"] - sv["start"]) + (ss["end"] - ss["start"])
        self.input_path, self.ckpt = input_path, ckpt
        return out

    def _traced(self, input_path: str, ckpt: str, phase: str, out: dict):
        """The linker's stage sequence from its operators, each layer
        forced before the checkpoint registry persists it."""
        from memory_optimized_splink_spark.operators.blocking import (
            block_using_rules)
        from memory_optimized_splink_spark.operators.cluster import (
            solve_connected_components)
        from memory_optimized_splink_spark.operators.score import predict
        from memory_optimized_splink_spark.operators.vectors import (
            compute_comparison_vectors)
        from memory_optimized_splink_spark.plans.checkpoint import (
            CheckpointRegistry)
        from memory_optimized_splink_spark.plans.metrics import MetricsLog
        from pyspark.sql import functions as F

        run, s = self.run, self.settings
        reg = CheckpointRegistry(run.spark, ckpt,
                                 metrics=MetricsLog(f"{ckpt}/lineage.jsonl"))
        cfg = {"settings": s.to_json()}

        def persist(stage, df):
            with run.span(phase, "checkpoint", stage):
                return reg.stage(stage, cfg, lambda: df)

        with run.span(phase, "nodes"):
            nodes = force(nodes_of(run.spark, input_path))
        nodes = persist("nodes", nodes)
        with run.span(phase, "blocking"):
            pairs = force(block_using_rules(nodes, s))
        lt = {}
        run.spark.sparkContext.setJobGroup("bench|probe|none", "counts")
        lt["blocking.pairs"], lt["blocking.skew"] = partition_skew(pairs)
        pairs = persist("blocked_pairs", pairs)
        with run.span(phase, "vectors") as sv:
            cv = force(compute_comparison_vectors(pairs, nodes, s))
        cv = persist("comparison_vectors", cv)
        with run.span(phase, "score") as ss:
            pred = force(predict(cv, s))
        pred = persist("predict", pred)
        stats: dict = {}
        with run.span(phase, "cluster"):
            edges = pred.where(F.col("match_probability") >= THRESHOLD) \
                .select("unique_id_l", "unique_id_r")
            member = solve_connected_components(nodes, edges, stats=stats)
            clusters = force(nodes.join(
                member.withColumnRenamed("node_id", "unique_id"),
                on="unique_id"))
        self.clusters = persist("clusters", clusters)
        self.pred = pred
        self.resume = lambda: _resume_registry(run.spark, ckpt, cfg)
        run.spark.sparkContext.setJobGroup("bench|probe|none", "counts")
        lt["nodes.rows"] = nodes.count()
        lt["cluster.rounds"] = stats.get("rounds", 0)
        lt["cluster.edges"] = edges.count()
        out["layer"] = lt
        return sv, ss

    def check(self) -> list[str]:
        s = self.settings
        pred = read_output(output_dir(self.pred))
        files = self.files.copy()
        files["unique_id"], files["content_sha"] = _ids(files)
        errs = checks.check_pairs(pred, checks.expected_pair_count(
            files, [list(r.keys) for r in s.blocking_rules]))
        sample = pred.sample(n=min(SCORE_SAMPLE, len(pred)),
                             random_state=self.seed)
        errs += checks.check_scores(sample, files, s)
        members = read_output(output_dir(self.clusters),
                              ["unique_id", "cluster_id"])
        edges = pred[pred["match_probability"] >= THRESHOLD]
        errs += checks.check_clusters(members, edges)
        truth = files.set_index("unique_id")["entity"]
        m = members.sort_values("unique_id")
        errs += checks.check_quality(
            m["cluster_id"].to_numpy(), truth.loc[m["unique_id"]].to_numpy(),
            MIN_PRECISION, MIN_RECALL)
        errs += self._check_resume(members)
        return errs

    def _check_resume(self, members) -> list[str]:
        self.run.spark.sparkContext.setJobGroup("bench|check|none", "resume")
        again, resumed = self.resume()
        return resume_errors(resumed, again, members)

    def _resume_linker(self):
        linker = self._linker(self.input_path, self.ckpt)
        again = linker.cluster(THRESHOLD).select("unique_id", "cluster_id") \
            .toPandas()
        with open(f"{self.ckpt}/lineage.jsonl") as f:
            events = [json.loads(line) for line in f]
        return again, {e["stage"] for e in events
                       if e.get("event") == "resume_from_checkpoint"}


def resume_errors(resumed: set, again, members) -> list[str]:
    """A second linker (or, traced, a second registry) on the same
    checkpoint directory resumed every stage and gave the same clusters."""
    errs = [f"stage {st} was not resumed" for st in STAGES
            if st not in resumed]
    a = checks.canonical(again, "unique_id", "cluster_id")
    b = checks.canonical(members, "unique_id", "cluster_id")
    if not a.equals(b):
        errs.append("resumed clusters differ from the first run's")
    return errs


def _ids(files):
    """unique_id and content_sha recomputed with hashlib."""
    import hashlib

    uid = [hashlib.sha256("\x01".join(t).encode()).hexdigest() for t in
           zip(files["repo"], files["path"], files["commit"])]
    sha = [hashlib.sha256(c.encode()).hexdigest() for c in files["content"]]
    return uid, sha


def _resume_registry(spark, ckpt: str, cfg: dict):
    from memory_optimized_splink_spark.plans.checkpoint import (
        CheckpointRegistry)

    reg = CheckpointRegistry(spark, ckpt)
    resumed = {st for st in STAGES if reg.has(st, cfg)}
    again = reg.stage("clusters", cfg, lambda: None) \
        .select("unique_id", "cluster_id").toPandas()
    return again, resumed
