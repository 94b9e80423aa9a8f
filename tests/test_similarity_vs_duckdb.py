"""Kernel parity: the string-metric dispatcher must match DuckDB's builtins
cell-for-cell (DuckDB is the reference's default backend, so these ARE the
reference semantics) on BOTH backends: the embedded DuckDB and the numpy
kernels, forced by setting the module global `_duckdb` to None (what an
environment without duckdb gets). Fuzzed, plus literal edge cases."""

from __future__ import annotations

import random
import string

import duckdb
import numpy as np
import pandas as pd
import pytest

from memory_optimized_splink_spark.functions import similarity as S
from memory_optimized_splink_spark.functions.similarity import (
    edit_distance_np,
    jaro_np,
    jaro_winkler_np,
)

EDGE = [
    ("martha", "marhta"), ("", ""), ("a", ""), ("", "a"), ("abc", "abc"),
    ("dwayne", "duane"), ("dixon", "dicksonx"), ("ab", "ba"), ("ca", "abc"),
    ("src/core/main0.py", "src/core/mian0.py"), ("x" * 100, "x" * 99 + "y"),
    ("prefixmatch", "prefixmxtch"), ("ünïcode", "unicode"), ("日本語", "日本誤"),
]


def _backends(monkeypatch):
    """Yield once on the default backend (embedded DuckDB), then once on
    the numpy kernels."""
    yield "duckdb"
    monkeypatch.setattr(S, "_duckdb", None)
    yield "numpy"


def _fuzz_pairs(n=5000, seed=3):
    rng = random.Random(seed)
    alpha = string.ascii_lowercase[:8] + "_./0"
    out = []
    for _ in range(n):
        out.append((
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 16))),
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 16))),
        ))
    return out


@pytest.fixture(scope="module")
def pairs():
    p = _fuzz_pairs() + EDGE
    s1 = pd.Series([a for a, _ in p])
    s2 = pd.Series([b for _, b in p])
    con = duckdb.connect()
    tbl = pd.DataFrame({"a": s1, "b": s2})  # noqa: F841 (registered by name)
    ref = con.execute(
        "select jaro_winkler_similarity(a,b) jw, jaro_similarity(a,b) j,"
        " levenshtein(a,b) lev from tbl"
    ).fetchdf()
    return s1, s2, ref


def test_jaro_winkler_matches_duckdb(pairs, monkeypatch):
    s1, s2, ref = pairs
    # BOTH backends must match the oracle — the numpy fallback stays pinned
    # even though the default route calls the oracle function itself
    for _ in _backends(monkeypatch):
        assert np.abs(jaro_winkler_np(s1, s2)
                      - ref.jw.to_numpy()).max() < 1e-12


def test_jaro_matches_duckdb(pairs, monkeypatch):
    s1, s2, ref = pairs
    for _ in _backends(monkeypatch):
        assert np.abs(jaro_np(s1, s2) - ref.j.to_numpy()).max() < 1e-12


def test_levenshtein_matches_duckdb(pairs, monkeypatch):
    # DuckDB levenshtein is byte-based; ours matches Spark's builtin
    # (codepoint-based). They agree on ASCII, which is what the engine's
    # oracle-checked columns (repo/path/lang) contain.
    s1, s2, ref = pairs
    ascii_mask = np.array(
        [a.isascii() and b.isascii() for a, b in zip(s1, s2)]
    )
    for _ in _backends(monkeypatch):
        got = edit_distance_np(s1, s2, damerau=False)
        assert (got[ascii_mask] == ref.lev.to_numpy()[ascii_mask]).all()


def test_damerau_levenshtein_literals():
    # UNRESTRICTED DL (Lowrance-Wagner): dl("ca","abc")=2 where OSA gives 3
    # — matches DuckDB's damerau_levenshtein and the reference's Scala UDF.
    s1 = pd.Series(["ab", "ca", "kitten", "abcdef", "", "a"])
    s2 = pd.Series(["ba", "abc", "sitting", "abcdef", "x", ""])
    got = edit_distance_np(s1, s2, damerau=True)
    assert got.tolist() == [1, 2, 3, 0, 1, 1]


def test_damerau_levenshtein_matches_duckdb(pairs, monkeypatch):
    s1, s2, ref_unused = pairs
    ascii_mask = np.array(
        [a.isascii() and b.isascii() for a, b in zip(s1, s2)]
    )
    con = duckdb.connect()
    tbl = pd.DataFrame({"a": s1, "b": s2})  # noqa: F841
    exp = con.execute(
        "select damerau_levenshtein(a,b) dl from tbl").fetchdf().dl.to_numpy()
    for _ in _backends(monkeypatch):
        got = edit_distance_np(s1, s2, damerau=True)
        assert (got[ascii_mask] == exp[ascii_mask]).all()


def test_duckdb_backend_routing_and_equality(pairs, monkeypatch):
    """The embedded-duckdb backend must (a) actually fire where claimed —
    always for jaro/JW, all-ASCII batches only for the edit distances —
    and (b) return exactly the numpy kernels' values elementwise (this
    also pins the order-preservation of the single-threaded duckdb scan
    over a 5k-row batch)."""
    if S._duckdb is None:
        pytest.skip("duckdb not installed: numpy-only environment")
    s1, s2, _ = pairs
    am = np.array([a.isascii() and b.isascii() for a, b in zip(s1, s2)])
    a1 = s1[am].reset_index(drop=True)
    a2 = s2[am].reset_index(drop=True)
    calls: list[str] = []
    orig = S._duck_metric

    def spy(fn, a, b):
        calls.append(fn)
        return orig(fn, a, b)

    def run_all():
        # mixed-ascii corpus, then its all-ascii subset
        return [jaro_np(s1, s2), jaro_winkler_np(s1, s2),
                edit_distance_np(s1, s2, damerau=False),
                edit_distance_np(s1, s2, damerau=True),
                edit_distance_np(a1, a2, damerau=False),
                edit_distance_np(a1, a2, damerau=True)]

    monkeypatch.setattr(S, "_duck_metric", spy)
    got = run_all()
    # jaro/JW route to duckdb on the mixed corpus; the edit distances
    # (codepoint-pinned) fall back to numpy there and route to duckdb only
    # on the all-ascii batch
    assert calls == ["jaro_similarity", "jaro_winkler_similarity",
                     "levenshtein", "damerau_levenshtein"]
    monkeypatch.setattr(S, "_duckdb", None)
    for g, want in zip(got, run_all()):
        assert np.array_equal(g, want)


def test_udfs_run_in_spark(spark):
    from pyspark.sql import functions as F

    from memory_optimized_splink_spark.functions.similarity import (
        jaro_winkler_udf,
    )

    df = spark.createDataFrame(
        [("martha", "marhta"), ("abc", "abc"), (None, "x")], ["a", "b"]
    )
    got = {
        (r["a"], r["b"]): r["jw"]
        for r in df.select("a", "b", jaro_winkler_udf("a", "b").alias("jw")).collect()
    }
    assert abs(got[("martha", "marhta")] - 0.9611111111111111) < 1e-12
    assert got[("abc", "abc")] == 1.0


def test_jaro_winkler_hypothesis_property(monkeypatch):
    """Property-based fuzz (hypothesis): arbitrary unicode text pairs must
    match DuckDB bit-for-bit, on both backends."""
    import duckdb
    from hypothesis import given, settings as hsettings, strategies as st

    con = duckdb.connect()

    @hsettings(max_examples=300, deadline=None)
    @given(st.text(max_size=24), st.text(max_size=24))
    def check(a, b):
        if "\x00" in a or "\x00" in b:
            return  # NUL bytes are not representable in duckdb varchars
        got = jaro_winkler_np(pd.Series([a]), pd.Series([b]))[0]
        want = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert abs(got - want) < 1e-12, (a, b, got, want)

    for _ in _backends(monkeypatch):
        check()


def _long_pairs(seed=11, n=40):
    """Mixed-length pairs straddling the 256-char fast-path width, up to
    ~1.2k chars — the round-3 'silent truncation' regression surface."""
    rng = random.Random(seed)
    alpha = string.ascii_lowercase[:10] + " _./"
    out = []
    for _ in range(n):
        la = rng.choice([5, 200, 255, 256, 257, 400, 700, 1200])
        lb = rng.choice([la, la, rng.randint(0, 1200)])  # bias to near-equal
        a = "".join(rng.choice(alpha) for _ in range(la))
        # half the pairs: b is a small perturbation of a (realistic near-dup)
        if rng.random() < 0.5 and la > 4:
            pos = rng.randrange(la - 1)
            b = a[:pos] + a[pos + 1] + a[pos] + a[pos + 2:]
        else:
            b = "".join(rng.choice(alpha) for _ in range(lb))
        out.append((a, b))
    return out


@pytest.fixture(scope="module")
def long_pairs():
    p = _long_pairs()
    s1 = pd.Series([a for a, _ in p])
    s2 = pd.Series([b for _, b in p])
    con = duckdb.connect()
    tbl = pd.DataFrame({"a": s1, "b": s2})  # noqa: F841
    ref = con.execute(
        "select jaro_winkler_similarity(a,b) jw, jaro_similarity(a,b) j,"
        " levenshtein(a,b) lev, damerau_levenshtein(a,b) dl from tbl"
    ).fetchdf()
    return s1, s2, ref


def test_long_strings_exact_not_truncated(long_pairs, monkeypatch):
    """>256-char inputs must match DuckDB exactly (the slow path computes
    at natural length; pre-round-4 they were silently truncated)."""
    s1, s2, ref = long_pairs
    for _ in _backends(monkeypatch):  # incl. the numpy slow path
        assert np.abs(jaro_winkler_np(s1, s2)
                      - ref.jw.to_numpy()).max() < 1e-12
        assert np.abs(jaro_np(s1, s2) - ref.j.to_numpy()).max() < 1e-12
        assert (edit_distance_np(s1, s2, damerau=False)
                == ref.lev.to_numpy()).all()
        assert (edit_distance_np(s1, s2, damerau=True)
                == ref.dl.to_numpy()).all()


def test_kernel_ceiling_raises_loudly(monkeypatch):
    """Past the exactness ceiling the kernel must raise, never silently
    approximate — at the same boundary on both backends: 8192 UTF-8 bytes
    for Jaro/JW, 8192 codepoints for Levenshtein, 2048 codepoints for
    Damerau-Levenshtein. At the boundary it still scores exactly."""
    con = duckdb.connect()

    def duck(fn, a, b):
        return con.execute(f"select {fn}(?, ?)", [a, b]).fetchone()[0]

    def one(x):
        return pd.Series([x])

    jw_a, jw_b = "x" * 8192, "x" * 8191 + "y"
    dl_a, dl_b = "ab" * 1024, "ba" * 1024
    e = "é" * 4097  # 4097 codepoints, 8194 UTF-8 bytes
    for _ in _backends(monkeypatch):
        assert abs(jaro_winkler_np(one(jw_a), one(jw_b))[0]
                   - duck("jaro_winkler_similarity", jw_a, jw_b)) < 1e-12
        with pytest.raises(ValueError, match="ceiling"):
            jaro_winkler_np(one("x" * 8193), one("x"))
        with pytest.raises(ValueError, match="ceiling"):
            jaro_winkler_np(one(e), one(""))
        assert edit_distance_np(one(e), one(""), damerau=False)[0] == 4097
        with pytest.raises(ValueError, match="ceiling"):
            edit_distance_np(one("x" * 8193), one("x"), damerau=False)
        assert edit_distance_np(one(dl_a), one(dl_b), damerau=True)[0] \
            == duck("damerau_levenshtein", dl_a, dl_b)
        with pytest.raises(ValueError, match="ceiling"):
            edit_distance_np(one("x" * 2049), one("x"), damerau=True)


def test_arrow_udf_boundary_nan_is_null(spark):
    """The Arrow-native UDF wrappers must reproduce the old pandas-UDF
    boundary bit-for-bit at the NULL/NaN edge: a kernel NaN (pairwise
    no-valid-pair, cosine of NaN-poisoned vectors) must arrive in Spark as
    NULL, never as a NaN VALUE — Spark sorts NaN above every number, so a
    raw NaN would silently satisfy `metric >= threshold` gammas."""
    from pyspark.sql import functions as F

    from memory_optimized_splink_spark.functions.similarity import (
        cosine_similarity_udf, jaro_winkler_udf, pairwise_jaro_winkler_udf,
    )

    df = spark.sql("""SELECT * FROM VALUES
        (array('ann', 'bob'), array('ann')),
        (array('ann'), array()),
        (array('ann'), CAST(NULL AS array<string>)),
        (array(), array())
        AS t(a, b)""")
    rows = df.select(pairwise_jaro_winkler_udf("a", "b").alias("v")) \
        .collect()
    assert rows[0]["v"] == 1.0
    assert [r["v"] for r in rows[1:]] == [None, None, None]
    # NULL never satisfies a threshold comparison (NaN would)
    n_pass = df.where(pairwise_jaro_winkler_udf("a", "b") >= F.lit(0.9)) \
        .count()
    assert n_pass == 1

    emb = spark.sql("""SELECT * FROM VALUES
        (array(CAST('NaN' AS DOUBLE), 1.0), array(1.0, 1.0)),
        (array(1.0, 0.0), array(1.0, 0.0))
        AS t(a, b)""")
    vals = [r["v"] for r in
            emb.select(cosine_similarity_udf("a", "b").alias("v")).collect()]
    assert vals[0] is None and abs(vals[1] - 1.0) < 1e-12

    # scalar string metrics: nulls behave like '' (kernel fillna pin)
    s = spark.sql("SELECT CAST(NULL AS STRING) a, 'x' b")
    assert s.select(jaro_winkler_udf("a", "b").alias("v")) \
        .collect()[0]["v"] == 0.0


def test_levenshtein_udf_matches_spark_builtin(spark, monkeypatch):
    """levenshtein_udf is a drop-in for F.levenshtein inside an Arrow
    metric stage: identical values (codepoint counting) AND identical
    NULL -> NULL semantics, on ASCII (duckdb route) and non-ASCII (numpy
    codepoint kernel) alike, and on both backends. The one divergence is
    documented: past the 8192-codepoint ceiling the UDF fails the stage
    where the builtin scores."""
    import random

    import pyarrow as pa
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    from memory_optimized_splink_spark.functions.similarity import (
        levenshtein_udf,
    )

    rng = random.Random(11)
    alpha_ascii = "abcXYZ 0189_/."
    alpha_uni = "abcäöüßéλ漢字😀"

    def rand(alpha, lo, hi):
        return "".join(rng.choice(alpha)
                       for _ in range(rng.randrange(lo, hi)))

    rows = [(rand(alpha_ascii, 0, 40), rand(alpha_ascii, 0, 40))
            for _ in range(300)]
    rows += [(rand(alpha_uni, 0, 25), rand(alpha_uni, 0, 25))
             for _ in range(300)]
    rows += [(None, "abc"), ("abc", None), (None, None), ("", ""),
             ("", "xyz"), ("a" * 500, "b" * 490)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select("a", "b", F.levenshtein("a", "b").alias("ref"),
                    levenshtein_udf("a", "b").alias("udf")).collect()
    for r in got:
        assert r["ref"] == r["udf"], (r["ref"], r["udf"])
    # the Spark workers import duckdb; run the UDF's own function on the
    # driver to pin the numpy backend against the builtin too
    a = pa.array([r["a"] for r in got], type=pa.string())
    b = pa.array([r["b"] for r in got], type=pa.string())
    for _ in _backends(monkeypatch):
        assert levenshtein_udf.func(a, b).to_pylist() == \
            [r["ref"] for r in got]

    long = spark.createDataFrame([("x" * 8193, "y")], ["a", "b"])
    assert long.select(F.levenshtein("a", "b")).collect()[0][0] == 8193
    with pytest.raises(PythonException, match="ceiling"):
        long.select(levenshtein_udf("a", "b")).collect()
