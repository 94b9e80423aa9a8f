"""incoming_match: small batches of new records against a trained model.

Set-up trains the person model (estimate_u, EM on two rules) over the
node table. The timed job is one client in a closed loop sending a fixed
sequence of batches through find_matches_to_new_records and collecting
each result. Each batch mixes perturbed copies of existing people with
unseen people. One batch per round carries a first_name longer than the
similarity kernels' 8192-character ceiling; it fails with ValueError every
time and is counted as a failed operation.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

import checks
import gen
from common import write_input
from wl_person import (U_MAX_PAIRS, em_patterns, em_rules, person_settings,
                       rule_keys, u_pairs)

ENTITIES = 5_000
BATCHES = 2              # ordinary batches per round, plus the overlong one
COPIES, UNSEEN = 120, 80  # records per ordinary batch
OVERLONG_AT = 1          # position of the overlong batch in the round
NEW_ID_BASE = 1_000_000_000

# A seed-independent person in every node table, and the batch that can
# only fail: its record shares the anchor's blocking keys but carries a
# first_name past the kernel ceiling.
ANCHOR = {"first_name": "anchor", "surname": "fixedperson",
          "dob": "1970-01-01", "city": "anchorville",
          "email": "anchor.fixedperson@example.com"}
OVERLONG = dict(ANCHOR, first_name=("overlong" * 1200)[:9000])


class IncomingMatch:
    name = "incoming_match"

    def __init__(self, run, seed: int):
        self.run, self.seed = run, seed

    def setup(self) -> dict:
        people = gen.People(self.seed, ENTITIES)
        base = people.base
        anchor = pd.DataFrame([dict(ANCHOR, unique_id=len(base), cluster=-2)])
        self.base = pd.concat([base, anchor[base.columns]], ignore_index=True)
        batches = [people.probe(COPIES, UNSEEN) for _ in range(BATCHES)]
        batches.insert(OVERLONG_AT, pd.DataFrame([dict(OVERLONG, cluster=-2)]))
        next_id = NEW_ID_BASE
        for b in batches:
            b.insert(0, "unique_id", np.arange(next_id, next_id + len(b),
                                               dtype=np.int64))
            next_id += len(b)
        self.batches = batches
        self.warm = people.probe(COPIES, UNSEEN)
        self.warm.insert(0, "unique_id", np.arange(
            next_id, next_id + len(self.warm), dtype=np.int64))
        write_input(self.base.drop(columns=["cluster"]), self.run.path("input"))
        return {"rows": len(self.base),
                "digest": gen.digest(self.base, *batches)}

    def warm_up(self) -> None:
        """Train the model (set-up work the timed requests consume), then
        send one request that is not timed."""
        from memory_optimized_splink_spark.linker import SparkLinker

        run, spark = self.run, self.run.spark
        self.linker = SparkLinker(spark, spark.read.parquet(run.path("input")),
                                  person_settings())
        with run.span("setup", "train", "u"):
            self.linker.estimate_u(max_pairs=U_MAX_PAIRS, seed=self.seed)
        iters = 0
        with run.span("setup", "train", "em"):
            for rule in em_rules():
                iters += len(self.linker.estimate_m_with_em(rule))
        self.em_iterations = iters
        with run.span("warmup", "match"):
            self._request(self.warm)

    def _request(self, batch: pd.DataFrame) -> pd.DataFrame:
        spark = self.run.spark
        new = spark.createDataFrame(batch.drop(columns=["cluster"]))
        return self.linker.find_matches_to_new_records(new).toPandas()

    def round(self, i: int, traced: bool, phase: str) -> dict:
        from pyspark.errors import PythonException

        run = self.run
        out = {"ops": 0, "failed": 0, "latencies": [], "pairs": 0,
               "rate_s": 0.0, "requests": len(self.batches)}
        self.results = []
        t0 = time.perf_counter()
        for j, batch in enumerate(self.batches):
            out["ops"] += 1
            with run.span(phase, "match", f"request{j}") as sp:
                try:
                    res = self._request(batch)
                except PythonException as e:
                    if "ValueError" not in str(e):
                        raise
                    out["failed"] += 1
                    self.results.append((batch, None))
                    continue
            lat = sp["end"] - sp["start"]
            out["latencies"].append(lat)
            out["rate_s"] += lat
            out["pairs"] += len(res)
            self.results.append((batch, res))
        out["wall"] = time.perf_counter() - t0
        if traced:
            run.spark.sparkContext.setJobGroup("bench|probe|none", "counts")
            nodes, s = self.linker.nodes(), self.linker.settings
            out["layer"] = {
                "match.pairs_returned": out["pairs"] / len(self.batches),
                "train.u_pairs": u_pairs(len(self.base)),
                "train.em_iterations": self.em_iterations,
                "train.em_patterns": sum(em_patterns(nodes, s, rule)
                                         for rule in em_rules())}
        return out

    def check(self) -> list[str]:
        s = self.linker.settings
        errs = checks.check_parameters(s)
        base = self.base
        for batch, res in self.results:
            if res is None:
                if batch["first_name"].str.len().max() <= 8192:
                    errs.append("an ordinary batch failed")
                continue
            errs += check_request(base, batch, res, s)
        return errs


def check_request(base: pd.DataFrame, batch: pd.DataFrame, res: pd.DataFrame,
                  settings) -> list[str]:
    """Every returned pair holds exactly one new record, the pairs are the
    brute-force blocked pairs of new x existing, and the scores equal an
    independent scoring against the existing records."""
    new_l = res["unique_id_l"] >= NEW_ID_BASE
    new_r = res["unique_id_r"] >= NEW_ID_BASE
    errs = []
    if (new_l == new_r).any():
        errs.append(f"{int((new_l == new_r).sum())} returned pairs do not "
                    "hold exactly one new record")
    want = set()
    for keys in rule_keys(settings):
        j = batch.dropna(subset=keys).merge(base.dropna(subset=keys), on=keys,
                                            suffixes=("_n", "_e"))
        want |= set(zip(j["unique_id_e"], j["unique_id_n"]))
    got = set(zip(np.minimum(res["unique_id_l"], res["unique_id_r"]),
                  np.maximum(res["unique_id_l"], res["unique_id_r"])))
    if got != want:
        errs.append(f"returned pairs differ from brute-force blocking: "
                    f"{len(got - want)} extra, {len(want - got)} missing")
    records = pd.concat([base, batch], ignore_index=True)
    errs += checks.check_scores(res, records, settings, tf_records=base)
    return errs
