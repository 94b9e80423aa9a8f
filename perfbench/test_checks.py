"""Each correctness check passes on a good input and fails on a corrupted one.

    python3 -m pytest perfbench/test_checks.py -q

No Spark session: the checks are plain Python, pandas and numpy, and the
"program output" here is built by hand.
"""

from __future__ import annotations

import itertools
import os
import sys
from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import wl_docs  # noqa: E402
import wl_match  # noqa: E402
import wl_repo  # noqa: E402
from wl_person import person_settings, rule_keys  # noqa: E402


# ------------------------------------------------------------- metrics
def test_string_metrics_match_known_values():
    assert checks.jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.961111, abs=1e-6)
    assert checks.jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.813333, abs=1e-6)
    assert checks.jaro("", "abc") == 0.0
    assert checks.levenshtein("kitten", "sitting") == 3
    assert checks.shingle_jaccard("abcdefg", "abcdefg") == 1.0


def test_generators_are_seeded():
    a, b = gen.People(5, 300), gen.People(5, 300)
    assert gen.digest(a.base) == gen.digest(b.base)
    assert gen.digest(a.base) != gen.digest(gen.People(6, 300).base)
    d1, e1 = gen.near_dup_corpus(3, 50)
    d2, e2 = gen.near_dup_corpus(3, 50)
    assert gen.digest(d1, e1) == gen.digest(d2, e2)


# ------------------------------------------------------------ blocking
@pytest.fixture(scope="module")
def people():
    return gen.People(11, 400).base


def brute_force_pairs(df, rules):
    rows = df.to_dict("records")
    out = set()
    for a, b in itertools.combinations(rows, 2):
        for keys in rules:
            if all(a[k] is not None and a[k] == b[k] for k in keys):
                out.add((min(a["unique_id"], b["unique_id"]),
                         max(a["unique_id"], b["unique_id"])))
                break
    return out


def pairs_frame(pairs):
    lo, hi = zip(*sorted(pairs))
    return pd.DataFrame({"unique_id_l": lo, "unique_id_r": hi})


def test_pair_count_matches_brute_force(people):
    rules = rule_keys(person_settings())
    want = brute_force_pairs(people, rules)
    assert checks.expected_pair_count(people, rules) == len(want)
    assert checks.check_pairs(pairs_frame(want), len(want)) == []


def test_pair_check_fails_on_dropped_or_repeated_pair(people):
    rules = rule_keys(person_settings())
    want = pairs_frame(brute_force_pairs(people, rules))
    n = len(want)
    assert checks.check_pairs(want.iloc[1:], n)
    repeated = pd.concat([want.iloc[1:], want.iloc[[2]]])
    assert any("twice" in e for e in checks.check_pairs(repeated, n))
    flipped = want.copy()
    flipped.iloc[0] = [want.iloc[1, 1], want.iloc[1, 0]]
    assert any("twice" in e for e in checks.check_pairs(flipped, n))


# --------------------------------------------------- Fellegi-Sunter
def trained_settings():
    """person_settings with every level's m and u filled in."""
    s = person_settings().with_defaults()
    comps = []
    for c in s.comparisons:
        levels, k = [], len(c.graded_levels)
        for lv in c.levels:
            if lv.kind != "null":
                lv = replace(lv, m=1.0 / k, u=1.0 / k)
            levels.append(lv)
        comps.append(replace(c, levels=tuple(levels)))
    comps[0] = comps[0].configure(m_probabilities=[0.7, 0.2, 0.05, 0.05],
                                  u_probabilities=[0.01, 0.02, 0.07, 0.9])
    return replace(s, comparisons=tuple(comps))


def scored_sample(people, settings):
    """Pairs with gammas and weights computed by the reference itself."""
    rec = people.set_index("unique_id")
    city_n = int(people["city"].notna().sum())
    city_tf = people["city"].value_counts().to_dict()
    rows = []
    for l, r in sorted(brute_force_pairs(people, rule_keys(settings)))[:150]:
        row = {"unique_id_l": l, "unique_id_r": r}
        gammas = {}
        for comp in settings.comparisons:
            vl, vr = rec.at[l, comp.column], rec.at[r, comp.column]
            g = checks.gamma(comp, vl, vr)
            if g is None:
                break
            gammas[comp.name] = row[comp.gamma_column] = g
        else:
            tf = {"city": (city_n, city_tf[rec.at[l, "city"]])} \
                if gammas["city"] > 0 else {}
            row["match_weight"] = checks.match_weight(settings, gammas, tf)
            rows.append(row)
    return pd.DataFrame(rows)


def test_score_check_fails_on_flipped_gamma_or_weight(people):
    s = trained_settings()
    sample = scored_sample(people, s)
    assert checks.check_scores(sample, people, s) == []
    bad = sample.copy()
    bad.loc[0, "gamma_dob"] = 1 - bad.loc[0, "gamma_dob"] if \
        bad.loc[0, "gamma_dob"] >= 0 else 0
    assert any("gamma_dob" in e for e in checks.check_scores(bad, people, s))
    bad = sample.copy()
    bad.loc[3, "match_weight"] += 0.01
    assert any("match_weight" in e for e in checks.check_scores(bad, people, s))


def test_tf_adjustment_is_part_of_the_weight(people):
    s = trained_settings()
    sample = scored_sample(people, s)
    agree = sample[sample["gamma_city"] > 0].index[0]
    plain = checks.match_weight(
        s, {c.name: sample.at[agree, c.gamma_column] for c in s.comparisons}, {})
    bad = sample.copy()
    bad.loc[agree, "match_weight"] = plain
    assert checks.check_scores(bad, people, s)


def test_parameter_check_fails_on_bad_m_u_or_lambda():
    s = trained_settings()
    assert checks.check_parameters(s) == []
    c0 = s.comparisons[0].configure(m_probabilities=[0.7, 0.2, 0.05, 0.1])
    assert checks.check_parameters(replace(s, comparisons=(c0,) + s.comparisons[1:]))
    assert checks.check_parameters(
        replace(s, probability_two_random_records_match=1.0))


# ------------------------------------------------------------ clusters
def test_cluster_check_fails_on_merged_or_split_cluster():
    nodes = np.arange(10)
    edges = pd.DataFrame({"unique_id_l": [0, 1, 5, 7], "unique_id_r": [1, 2, 6, 8]})
    comp = checks.union_find(nodes, edges["unique_id_l"], edges["unique_id_r"])
    members = pd.DataFrame({"unique_id": nodes,
                            "cluster_id": [comp[n] for n in nodes]})
    assert checks.check_clusters(members, edges) == []
    merged = members.copy()
    merged.loc[merged["cluster_id"] == 5, "cluster_id"] = 0
    assert checks.check_clusters(merged, edges)
    split = members.copy()
    split.loc[2, "cluster_id"] = 99
    assert checks.check_clusters(split, edges)


def test_quality_floor_fails_on_merged_truth():
    truth = np.repeat(np.arange(50), 3)
    assert checks.check_quality(truth.copy(), truth, 0.9, 0.9) == []
    merged = np.where(truth < 25, 0, truth)
    assert any("precision" in e for e in checks.check_quality(merged, truth, 0.9, 0.9))
    singletons = np.arange(150)
    assert any("recall" in e for e in checks.check_quality(singletons, truth, 0.9, 0.9))


# ------------------------------------------------------ repo_resume
def test_resume_check_fails_on_recomputed_stage_or_changed_cluster():
    members = pd.DataFrame({"unique_id": ["a", "b", "c"],
                            "cluster_id": ["a", "a", "c"]})
    all_stages = set(wl_repo.STAGES)
    assert wl_repo.resume_errors(all_stages, members.copy(), members) == []
    assert wl_repo.resume_errors(all_stages - {"predict"}, members.copy(), members)
    changed = members.assign(cluster_id=["a", "a", "a"])
    assert wl_repo.resume_errors(all_stages, changed, members)


# --------------------------------------------------- incoming_match
def test_request_check_fails_on_bad_pairs_or_scores():
    s = trained_settings()
    people = gen.People(13, 300)
    base = people.base
    batch = people.probe(4, 2)
    batch.insert(0, "unique_id", np.arange(wl_match.NEW_ID_BASE,
                                           wl_match.NEW_ID_BASE + len(batch)))
    both = pd.concat([base, batch], ignore_index=True)
    want = {p for p in brute_force_pairs(both, rule_keys(s))
            if (p[0] >= wl_match.NEW_ID_BASE) != (p[1] >= wl_match.NEW_ID_BASE)}
    city_n, city_tf = int(base["city"].notna().sum()), base["city"].value_counts()
    rec = both.set_index("unique_id")
    rows = []
    for l, r in sorted(want):
        row = {"unique_id_l": l, "unique_id_r": r}
        gammas = {c.name: checks.gamma(c, rec.at[l, c.column], rec.at[r, c.column])
                  for c in s.comparisons}
        for c in s.comparisons:
            row[c.gamma_column] = gammas[c.name]
        if None not in gammas.values():  # a threshold tie is not scored
            tf = {"city": (city_n, city_tf[rec.at[l, "city"]])} \
                if gammas["city"] > 0 and rec.at[l, "city"] in city_tf else {}
            row["match_weight"] = checks.match_weight(s, gammas, tf)
        rows.append(row)
    res = pd.DataFrame(rows)
    assert len(res) == len(want) > 0
    assert wl_match.check_request(base, batch, res, s) == []
    assert wl_match.check_request(base, batch, res.iloc[1:], s)
    two_new = res.copy()
    two_new.loc[0, "unique_id_l"] = wl_match.NEW_ID_BASE + 1
    assert any("exactly one new record" in e
               for e in wl_match.check_request(base, batch, two_new, s))
    rescored = res.copy()
    rescored.loc[0, "match_weight"] -= 1.0
    assert wl_match.check_request(base, batch, rescored, s)


# --------------------------------------------------- doc_near_dedup
def test_dedup_check_fails_on_low_jaccard_missed_copy_or_bad_cluster():
    docs, emb = gen.near_dup_corpus(17, 60)
    text = docs.set_index("doc_id")["text"]
    ids = docs["doc_id"].to_numpy()
    kept = pd.DataFrame([(a, b, checks.shingle_jaccard(text[a], text[b]))
                         for a, b in itertools.combinations(ids, 2)
                         if checks.shingle_jaccard(text[a], text[b]) >= wl_docs.JACCARD],
                        columns=["id_l", "id_r", "jaccard"])
    vec = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    sims = vec @ vec.T
    cos = pd.DataFrame([(a, b) for a, b in itertools.combinations(ids, 2)
                        if sims[a, b] >= wl_docs.COSINE], columns=["id_l", "id_r"])
    edges = pd.concat([kept[["id_l", "id_r"]], cos])
    comp = checks.union_find(ids, edges["id_l"], edges["id_r"])
    members = pd.DataFrame({"node_id": ids, "cluster_id": [comp[i] for i in ids]})
    assert len(kept) and len(cos)
    assert wl_docs.check_dedup(docs, emb, kept, cos, members) == []

    low = pd.concat([kept, pd.DataFrame({"id_l": [ids[0]], "id_r": [ids[1]],
                                         "jaccard": [0.9]})])
    assert wl_docs.check_dedup(docs, emb, low, cos, members)
    same = docs.groupby("text")["doc_id"].apply(sorted)
    pair = next(g for g in same if len(g) > 1)
    missed = kept[~((kept["id_l"] == pair[0]) & (kept["id_r"] == pair[1]))]
    assert any("identical-text" in e
               for e in wl_docs.check_dedup(docs, emb, missed, cos, members))
    merged = members.assign(cluster_id=0)
    assert wl_docs.check_dedup(docs, emb, kept, cos, merged)
    assert wl_docs.check_recall(0.5)
    assert wl_docs.check_recall(0.95) == []
