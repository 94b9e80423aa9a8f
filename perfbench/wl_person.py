"""person_link and incoming_match: Fellegi-Sunter linkage of synthetic people.

person_link runs the flagship flow estimate_u -> EM on two training rules
-> predict written -> cluster_pairwise_predictions_at_threshold on the
written table, with checkpoints off. incoming_match trains the same model
in set-up and then sends a fixed sequence of small batches through
find_matches_to_new_records, one client at a time (closed loop).
"""

from __future__ import annotations

import time

import checks
import gen
from common import force, parquet_rows, partition_skew, read_output, write_input

PERSON_ENTITIES = 25_000
WARM_ENTITIES = 1_000
U_MAX_PAIRS = 5e4
THRESHOLD = 0.99
SCORE_SAMPLE = 600
MIN_PRECISION, MIN_RECALL = 0.75, 0.5

MATCH_ENTITIES = 12_000
MATCH_BATCHES = 5          # ordinary batches per round, plus one overlong
MATCH_COPIES, MATCH_UNSEEN = 6, 4
OVERLONG_CHARS = 9_000     # past the 8192-character kernel ceiling


def person_settings():
    from memory_optimized_splink_spark.model import (
        Comparison, ComparisonLevel as L, Settings, block_on)

    def name(col):
        return Comparison(col, col, (
            L("null"), L("exact"), L("jaro_winkler", threshold=0.92),
            L("jaro_winkler", threshold=0.8), L("else")))

    return Settings(
        comparisons=(
            name("first_name"), name("surname"),
            Comparison("dob", "dob", (L("null"), L("exact"),
                                      L("levenshtein", threshold=1), L("else"))),
            Comparison("city", "city", (L("null"),
                                        L("exact", tf_adjustment=True),
                                        L("else"))),
            Comparison("email", "email", (
                L("null"), L("exact"), L("levenshtein", threshold=2),
                L("jaro_winkler", threshold=0.88), L("else"))),
        ),
        blocking_rules=(block_on("first_name", "surname"), block_on("dob"),
                        block_on("city", "surname")),
        probability_two_random_records_match=1e-5,
    )


def em_rules():
    from memory_optimized_splink_spark.model import block_on

    return [block_on("first_name", "surname"), block_on("dob")]


def rule_keys(settings) -> list[list[str]]:
    return [list(r.keys) for r in settings.blocking_rules]


class PersonLink:
    """Batch linkage of one synthetic population, start to clusters."""

    name = "person_link"

    def __init__(self, run, seed: int):
        self.run, self.seed = run, seed
        self.settings = person_settings()

    def setup(self) -> dict:
        people = gen.People(self.seed, PERSON_ENTITIES)
        self.base = people.base
        warm = gen.People(self.seed + 7919, WARM_ENTITIES).base
        write_input(self.base.drop(columns=["cluster"]), self.run.path("input"))
        write_input(warm.drop(columns=["cluster"]), self.run.path("warm"))
        return {"rows": len(self.base), "digest": gen.digest(self.base)}

    def warm_up(self) -> None:
        self._flow(self.run.path("warm"), "warm", False, "warmup")

    def round(self, i: int, traced: bool, phase: str) -> dict:
        return self._flow(self.run.path("input"), f"r{i}", traced, phase)

    def _flow(self, input_path: str, tag: str, traced: bool, phase: str
              ) -> dict:
        from memory_optimized_splink_spark import train
        from memory_optimized_splink_spark.linker import SparkLinker
        from memory_optimized_splink_spark.operators.blocking import (
            block_using_rules)
        from memory_optimized_splink_spark.operators.cluster import (
            solve_connected_components)
        from memory_optimized_splink_spark.operators.nodes import (
            non_null_counts)
        from memory_optimized_splink_spark.operators.score import predict
        from memory_optimized_splink_spark.operators.vectors import (
            compute_comparison_vectors)
        from pyspark.sql import functions as F

        run, spark = self.run, self.run.spark
        pred_path = run.path("out", f"predict_{tag}")
        cl_path = run.path("out", f"clusters_{tag}")
        linker = SparkLinker(spark, spark.read.parquet(input_path),
                             self.settings)
        out = {"ops": 1, "failed": 0}
        t0 = time.perf_counter()
        if not traced:
            with run.span(phase, "train", "u"):
                linker.estimate_u(max_pairs=U_MAX_PAIRS, seed=self.seed)
            with run.span(phase, "train", "em"):
                for rule in em_rules():
                    linker.estimate_m_with_em(rule)
            with run.span(phase, "score", "predict") as sp:
                linker.predict().write.parquet(pred_path)
            with run.span(phase, "cluster", "cluster"):
                linker.cluster_pairwise_predictions_at_threshold(
                    spark.read.parquet(pred_path), THRESHOLD
                ).write.parquet(cl_path)
            self.trained = linker.settings
        else:
            lt = {}
            with run.span(phase, "nodes"):
                nodes = force(linker.nodes())
            settings = linker.settings
            with run.span(phase, "train", "u"):
                settings = train.estimate_u_using_random_sampling(
                    nodes, settings, max_pairs=U_MAX_PAIRS, seed=self.seed)
            iters = 0
            with run.span(phase, "train", "em"):
                for rule in em_rules():
                    settings, hist = train.estimate_parameters_using_em(
                        nodes, settings, rule)
                    iters += len(hist)
            with run.span(phase, "blocking"):
                pairs = force(block_using_rules(nodes, settings))
            with run.span(phase, "vectors"):
                cv = force(compute_comparison_vectors(pairs, nodes, settings))
            with run.span(phase, "score", "predict") as sp:
                n_rec = non_null_counts(nodes, ["city"], include_total=True)
                predict(cv, settings, n_records=n_rec).write.parquet(pred_path)
            stats: dict = {}
            with run.span(phase, "cluster", "cluster"):
                edges = spark.read.parquet(pred_path).where(
                    F.col("match_probability") >= THRESHOLD)
                member = solve_connected_components(
                    nodes, edges.select("unique_id_l", "unique_id_r"),
                    stats=stats)
                nodes.join(member.withColumnRenamed("node_id", "unique_id"),
                           on="unique_id").write.parquet(cl_path)
            self.trained = settings
            # counts read outside the spans, from already materialized data
            run.spark.sparkContext.setJobGroup("bench|probe|none", "counts")
            lt["nodes.rows"] = nodes.count()
            lt["blocking.pairs"], lt["blocking.skew"] = partition_skew(pairs)
            lt["train.u_pairs"] = u_pairs(lt["nodes.rows"])
            lt["train.em_iterations"] = iters
            lt["train.em_patterns"] = sum(
                em_patterns(nodes, settings, rule) for rule in em_rules())
            lt["cluster.rounds"] = stats.get("rounds", 0)
            lt["cluster.edges"] = edges.count()
            out["layer"] = lt
        out["wall"] = time.perf_counter() - t0
        out["pairs"] = parquet_rows(pred_path)
        out["rate_s"] = sp["end"] - sp["start"]
        self.pred_path, self.cl_path = pred_path, cl_path
        return out

    def check(self) -> list[str]:
        s = self.trained
        pred = read_output(self.pred_path)
        errs = checks.check_pairs(
            pred, checks.expected_pair_count(self.base, rule_keys(s)))
        errs += checks.check_parameters(s)
        sample = pred.sample(n=min(SCORE_SAMPLE, len(pred)),
                             random_state=self.seed)
        errs += checks.check_scores(sample, self.base, s)
        members = read_output(self.cl_path, ["unique_id", "cluster_id"])
        edges = pred[pred["match_probability"] >= THRESHOLD]
        errs += checks.check_clusters(members, edges)
        truth = self.base.set_index("unique_id")["cluster"]
        m = members.sort_values("unique_id")
        errs += checks.check_quality(
            m["cluster_id"].to_numpy(), truth.loc[m["unique_id"]].to_numpy(),
            MIN_PRECISION, MIN_RECALL)
        return errs


def u_pairs(n_rows: int) -> int:
    """Pairs the u-sampler scores: a sample of t rows with t(t-1)/2 ~=
    max_pairs (train.estimate_u_using_random_sampling)."""
    t = min(n_rows, int((2.0 * U_MAX_PAIRS) ** 0.5) + 1)
    return t * (t - 1) // 2


def em_patterns(nodes, settings, rule) -> int:
    """Distinct agreement patterns EM collapses the rule's pairs to."""
    from dataclasses import replace

    from memory_optimized_splink_spark import train
    from memory_optimized_splink_spark.operators.blocking import (
        block_using_rules)
    from memory_optimized_splink_spark.operators.vectors import (
        compute_comparison_vectors)

    active = [c for c in settings.comparisons if c.column not in rule.keys]
    s = replace(settings, comparisons=tuple(active), blocking_rules=(rule,))
    cv = compute_comparison_vectors(block_using_rules(nodes, s), nodes, s,
                                    retain_columns=False)
    return len(train.agreement_pattern_counts(cv, active))
