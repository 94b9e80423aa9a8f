"""Seeded input generators for the linkage benchmark.

Every generator draws from one `numpy.random.Generator` seeded with the
run's seed, builds its value pools as sorted arrays, and never iterates a
Python `set` or relies on `PYTHONHASHSEED`: the same seed gives the same
bytes in every process. `digest()` hashes a frame's canonical Arrow IPC
bytes so two runs can show they fed the program identical inputs.
"""

from __future__ import annotations

import hashlib
import io

import numpy as np
import pandas as pd
import pyarrow as pa

_CONS = np.array(list("bcdfghjklmnprstvwz"))
_VOWS = np.array(list("aeiouy"))
_ALPHA = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_WORDS = np.array(sorted(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()))
_LANGS = np.array(["de", "en", "es", "fr", "zh"])
_LANG_P = np.array([0.14, 0.41, 0.15, 0.15, 0.15])
_DOMAINS = np.array(["example.com", "mail.net", "post.org", "web.io"])


def digest(*frames: pd.DataFrame) -> str:
    """sha256 over the Arrow IPC stream of each frame (schema + values)."""
    h = hashlib.sha256()
    for df in frames:
        table = pa.Table.from_pandas(df, preserve_index=False)
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        h.update(sink.getvalue())
    return h.hexdigest()[:16]


def _zipf_p(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    return w / w.sum()


def _pool(rng: np.random.Generator, n: int, syllables: tuple[int, int]
          ) -> np.ndarray:
    """`n` distinct pronounceable names in a seed-determined order."""
    out: list[str] = []
    seen: dict[str, None] = {}
    while len(out) < n:
        k = int(rng.integers(syllables[0], syllables[1] + 1))
        name = "".join(np.char.add(rng.choice(_CONS, k), rng.choice(_VOWS, k)))
        if name not in seen:
            seen[name] = None
            out.append(name)
    return np.array(out, dtype=object)


def _typo(rng: np.random.Generator, s: str) -> str:
    """One substitution, deletion, transposition or insertion."""
    if len(s) < 3:
        return s + str(rng.choice(_ALPHA))
    i = int(rng.integers(1, len(s) - 1))
    op = int(rng.integers(0, 4))
    if op == 0:
        return s[:i] + str(rng.choice(_ALPHA)) + s[i + 1:]
    if op == 1:
        return s[:i] + s[i + 1:]
    if op == 2:
        return s[:i - 1] + s[i] + s[i - 1] + s[i + 1:]
    return s[:i] + str(rng.choice(_ALPHA)) + s[i:]


class People:
    """Synthetic people with Zipf name and city pools and typo'd duplicates.

    `base` holds entities with 1-4 records each; `cluster` is the true
    entity id. `probe(...)` draws new records: perturbed copies of existing
    entities and unseen people, for the incoming-match workload.
    """

    def __init__(self, seed: int, n_entities: int):
        self.rng = np.random.default_rng(seed)
        rng = self.rng
        self.first_pool = _pool(rng, 1200, (2, 3))
        self.surname_pool = _pool(rng, 4000, (2, 4))
        self.city_pool = _pool(rng, 400, (2, 3))
        self.first_p = _zipf_p(len(self.first_pool), 0.9)
        self.surname_p = _zipf_p(len(self.surname_pool), 0.6)
        self.city_p = _zipf_p(len(self.city_pool), 0.6)
        ents = self._entities(n_entities)
        n_rec = rng.choice(np.array([1, 2, 3, 4]), n_entities,
                           p=[0.5, 0.25, 0.15, 0.10])
        idx = np.repeat(np.arange(n_entities), n_rec)
        first_copy = np.r_[True, idx[1:] != idx[:-1]]
        rows = ents.iloc[idx].reset_index(drop=True)
        rows = self._perturb(rows, ~first_copy)
        order = rng.permutation(len(rows))
        rows = rows.iloc[order].reset_index(drop=True)
        rows.insert(0, "unique_id", np.arange(len(rows), dtype=np.int64))
        self.base = rows
        self._entity_table = ents

    def _entities(self, n: int, cluster_offset: int = 0) -> pd.DataFrame:
        rng = self.rng
        first = rng.choice(self.first_pool, n, p=self.first_p)
        surname = rng.choice(self.surname_pool, n, p=self.surname_p)
        days = rng.integers(0, 27_000, n)  # 1930-01-01 .. ~2003-12
        dob = (np.datetime64("1930-01-01") + days.astype("timedelta64[D]")
               ).astype(str)
        city = rng.choice(self.city_pool, n, p=self.city_p)
        num = rng.integers(0, 100, n)
        dom = rng.choice(_DOMAINS, n)
        email = [f"{f}.{s}{k}@{d}" for f, s, k, d in
                 zip(first, surname, num, dom)]
        return pd.DataFrame({
            "first_name": first.astype(object), "surname": surname.astype(object),
            "dob": dob.astype(object), "city": city.astype(object),
            "email": np.array(email, dtype=object),
            "cluster": np.arange(cluster_offset, cluster_offset + n,
                                 dtype=np.int64),
        })

    def _perturb(self, rows: pd.DataFrame, mask: np.ndarray) -> pd.DataFrame:
        """Typos and nulls on the rows where `mask` is set."""
        rng = self.rng
        rows = rows.copy()
        rates = {"first_name": (0.15, 0.03), "surname": (0.15, 0.03),
                 "dob": (0.10, 0.03), "city": (0.05, 0.05),
                 "email": (0.15, 0.03)}
        for col, (p_typo, p_null) in rates.items():
            vals = rows[col].to_numpy(dtype=object).copy()
            u = rng.random(len(vals))
            for i in np.flatnonzero(mask & (u < p_typo)):
                if col == "dob":
                    d = vals[i]
                    vals[i] = d[:8] + d[9] + d[8] if d[9] != d[8] else \
                        d[:5] + d[6] + d[5] + d[7:]
                elif col == "city":
                    vals[i] = rng.choice(self.city_pool, p=self.city_p)
                else:
                    vals[i] = _typo(rng, vals[i])
            vals[mask & (u >= p_typo) & (u < p_typo + p_null)] = None
            rows[col] = vals
        return rows

    def probe(self, n_copies: int, n_unseen: int) -> pd.DataFrame:
        """New records: perturbed copies of existing entities (keeping
        their `cluster`) and unseen people (`cluster` = -1)."""
        rng = self.rng
        ents = self._entity_table
        pick = rng.choice(len(ents), n_copies, replace=False)
        copies = self._perturb(ents.iloc[np.sort(pick)].reset_index(drop=True),
                               np.ones(n_copies, dtype=bool))
        unseen = self._entities(n_unseen)
        unseen["cluster"] = -1
        return pd.concat([copies, unseen], ignore_index=True)


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """documents-shaped table (doc_id, text, lang, source, n_chars): word
    salad over a 30-word vocabulary, 8-90 words per document."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 91, n_docs)
    words = rng.choice(_WORDS, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    text = np.array([" ".join(w) for w in np.split(words, cuts)], dtype=object)
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P).astype(object),
        "source": np.array([f"src{i % 20}" for i in range(n_docs)], dtype=object),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def repo_files(seed: int, n_docs: int, variants: int) -> pd.DataFrame:
    """The documents x variants repo-file table of the project's scoring
    bench: each document yields `variants` rows with path edits, a spread
    of sub-repos, and shared content on even variants. `entity` is the
    source document (the truth for clustering)."""
    docs = documents(seed, n_docs)
    d = docs.loc[docs.index.repeat(variants)].reset_index(drop=True)
    v = np.tile(np.arange(variants), n_docs)
    doc = d["doc_id"].to_numpy()
    stem = np.array([f"doc{x % 997}" for x in doc], dtype=object)
    kind = v % 4
    path_stem = np.where(kind == 0, stem, np.where(
        kind == 1, stem + "_old", np.where(
            kind == 2, np.char.upper(stem.astype(str)).astype(object),
            stem + v.astype(str).astype(object))))
    repo = [f"org{x % 7}/repo{x % 101}_{y % 16}" for x, y in zip(doc, v)]
    path = [f"src/{s}/{p}.{lang}" for s, p, lang in
            zip(d["source"], path_stem, d["lang"])]
    commit = [hashlib.sha256(f"c{x}-{y}".encode()).hexdigest()[:40]
              for x, y in zip(doc, v)]
    text = d["text"].to_numpy(dtype=object)
    content = np.where(v % 2 == 0, text,
                       text + " v" + v.astype(str).astype(object))
    return pd.DataFrame({
        "repo": np.array(repo, dtype=object), "path": np.array(path, dtype=object),
        "commit": np.array(commit, dtype=object),
        "lang": d["lang"].to_numpy(dtype=object), "content": content,
        "entity": doc.astype(np.int64),
    })


def near_dup_corpus(seed: int, n_base: int, dim: int = 64
                    ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Perturbed variants of a documents/embeddings corpus.

    Base documents are 8-90 words from a 3000-word Zipf vocabulary. Each
    gets 0-3 extra versions: an exact copy, a light edit (one word in ~25
    replaced), or a rewrite unrelated to the original. Embeddings sit
    around 32 topic centres; a version's embedding is a copy, a small
    perturbation, or a fresh vector to match. Returns (docs, embeddings)
    keyed by the same id."""
    rng = np.random.default_rng(seed)
    vocab = _pool(rng, 3000, (1, 3))
    vocab_p = _zipf_p(len(vocab), 0.8)

    def words(n: int) -> list[str]:
        return list(rng.choice(vocab, n, p=vocab_p))

    base_text = [" ".join(words(int(rng.integers(8, 91))))
                 for _ in range(n_base)]
    centres = rng.standard_normal((32, dim))

    def vector() -> np.ndarray:
        return centres[rng.integers(0, 32)] + 0.6 * rng.standard_normal(dim)

    base_vec = [vector() for _ in range(n_base)]
    n_extra = rng.choice(np.array([0, 1, 2, 3]), n_base,
                         p=[0.55, 0.25, 0.12, 0.08])
    texts: list[str] = []
    vecs: list[np.ndarray] = []
    for i in range(n_base):
        t0, v0 = base_text[i], base_vec[i]
        texts.append(t0)
        vecs.append(v0)
        for _ in range(int(n_extra[i])):
            k = int(rng.integers(0, 3))
            if k == 0:
                texts.append(t0)
                vecs.append(v0.copy())
            elif k == 1:
                edited = t0.split(" ")
                for j in np.flatnonzero(rng.random(len(edited)) < 0.04):
                    edited[j] = words(1)[0]
                texts.append(" ".join(edited))
                vecs.append(v0 + 0.02 * rng.standard_normal(dim))
            else:
                texts.append(" ".join(words(int(rng.integers(8, 91)))))
                vecs.append(vector())
    order = rng.permutation(len(texts))
    ids = np.arange(len(texts), dtype=np.int64)
    docs = pd.DataFrame({
        "doc_id": ids,
        "text": np.array(texts, dtype=object)[order],
    })
    emb = np.stack(vecs)[order].astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": ids,
        "embedding": list(emb),
    })
    return docs, embeddings
