"""Vectorized string-similarity kernels behind one Arrow batch dispatcher.

The reference scores pairs with Scala JAR UDFs (jaro_winkler,
damerau_levenshtein, ...) registered into Spark SQL. This engine replaces
them with batched kernels inside pyspark 4.1 `arrow_udf`s: the worker hands
each UDF two pyarrow.Arrays and gets one back, with no pandas string
materialization at the boundary and no per-row Python in the hot path.

Every string metric goes through ONE function, `string_metric(kind, a, b)`
(Arrow in, Arrow out). The UDFs call it, and so do the pairwise array
metrics (`pairwise_best_np`), the driver-local scorer (`realtime.py`) and,
through the pandas adapters `jaro_np` / `jaro_winkler_np` /
`edit_distance_np`, the exploratory helpers (`exploratory.py`). Once per
batch it:
  1. fills NULLs with "" (metric(NULL, x) == metric("", x));
  2. measures lengths with pyarrow.compute: UTF-8 bytes for Jaro/JW,
     codepoints for the edit distances;
  3. raises ValueError past the exactness ceiling (below);
  4. runs the metric as DuckDB's C++ builtin over the Arrow batch when
     duckdb is importable and the semantics match, else the numpy kernels.

Semantics are pinned to DuckDB's builtins (the reference's default backend)
so that the driver's DuckDB oracle hash-matches:
  jaro_similarity / jaro_winkler_similarity / levenshtein /
  damerau_levenshtein. Jaro/JW count UTF-8 bytes there, like the numpy
kernels, so DuckDB always serves them. The edit distances are pinned to
Spark's CODEPOINT counting while DuckDB counts bytes; the two agree exactly
on ASCII, so DuckDB serves an edit distance only on an all-ASCII batch.
tests/test_similarity_vs_duckdb.py fuzzes both backends cell for cell; it
forces the numpy kernels by setting the module global `_duckdb` to None,
which is also what an environment without duckdb gets.

Ceiling: inputs are exact up to _LHARD_* (8192 bytes for Jaro/JW, 8192
codepoints for Levenshtein, 2048 codepoints for Damerau-Levenshtein), on
both backends. Past it the batch raises ValueError instead of silently
approximating, which fails the Spark stage that holds the value. The
kernels are for name/path-like columns: pre-truncate, fingerprint or
shingle content-like columns explicitly.

Scale notes (numpy path): the per-batch tensors are O(batch * Lmax) for the
edit distances and O(batch * Lmax^2) bools for Jaro matching. Rows longer
than the fast-path width (_LMAX / _DL_LMAX) are NOT truncated: they run in
their own narrow mini-batches at natural length (sorted by length, with an
adaptive batch size that keeps the per-batch tensor bounded).
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

try:  # pragma: no cover - exercised via the backend-equality tests
    import duckdb as _duckdb
except Exception:  # pragma: no cover
    _duckdb = None

_LMAX = 256
_CHUNK = 2048
# exactness ceilings for the long-row slow path (quadratic cell count for
# Jaro/Lev time, cubic-ish tensor memory for unrestricted DL)
_LHARD_JARO = 8192
_LHARD_LEV = 8192
_LHARD_DL = 2048

# one embedded DuckDB connection per worker process (heavyweight init once,
# cached in a module global with a PID guard so a reused worker keeps it
# across tasks). threads=1: each Spark task already owns one core;
# a multithreaded embedded engine inside 32 concurrent workers would
# oversubscribe. Single-threaded scans of an in-memory frame are also
# order-preserving, which the elementwise contract relies on (pinned by the
# backend-equality fuzz test).
_DUCK_CON = None
_DUCK_PID = None


def _duck_con():
    global _DUCK_CON, _DUCK_PID
    pid = os.getpid()
    if _DUCK_CON is None or _DUCK_PID != pid:
        con = _duckdb.connect()
        con.execute("SET threads TO 1")
        _DUCK_CON = con
        _DUCK_PID = pid
    return _DUCK_CON


def _duck_metric(fn: str, a: pa.Array, b: pa.Array) -> pa.Array:
    """SELECT fn(a, b) over two aligned non-null Arrow string arrays,
    elementwise: duckdb scans the Arrow table zero-copy, and the
    single-threaded scan keeps output order == input order."""
    con = _duck_con()
    con.register("_mos_sim_pairs", pa.table({"a": a, "b": b}))
    try:
        out = con.execute(
            f"SELECT {fn}(a, b) AS s FROM _mos_sim_pairs").fetch_arrow_table()
    finally:
        con.unregister("_mos_sim_pairs")
    return out.column("s").combine_chunks()


def _codes_arr(vals: np.ndarray, lens: np.ndarray, lmax: int,
               bytes_mode: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """(n, lmax) int32 matrix padded with -1, plus lengths clipped to lmax.

    One NumPy 'U<lmax>' conversion turns the whole batch into a (n, lmax)
    UCS-4 codepoint matrix in a single C pass (a per-row encode loop was
    ~2/3 of the whole Jaro-Winkler kernel wall at bench shape). `lens` are
    the rows' lengths as the dispatcher measured them. bytes_mode needs
    UTF-8 BYTES (DuckDB's Jaro/JW operate on bytes); for ASCII batches
    bytes == codepoints, so the same matrix serves, and any non-ASCII
    bytes_mode batch falls back to the exact per-row encoder."""
    n = len(vals)
    lmax = max(int(lmax), 1)
    try:
        cp = np.ascontiguousarray(
            np.asarray(vals, dtype=f"U{lmax}")).view(np.uint32)
    except (TypeError, ValueError, UnicodeEncodeError):
        return _codes_arr_rowwise(vals, lmax, bytes_mode)
    cp = cp.reshape(n, lmax) if n else cp.reshape(0, lmax)
    if bytes_mode and n and int(cp.max(initial=0)) >= 128:
        return _codes_arr_rowwise(vals, lmax, bytes_mode)
    lens = np.minimum(lens, lmax)
    out = cp.astype(np.int32)
    out[np.arange(lmax)[None, :] >= lens[:, None]] = -1
    return out, lens.astype(np.int32)


def _codes_arr_rowwise(vals: np.ndarray, lmax: int, bytes_mode: bool = False
                       ) -> tuple[np.ndarray, np.ndarray]:
    """Exact per-row fallback (non-ASCII bytes_mode batches)."""
    n = len(vals)
    out = np.full((n, lmax), -1, dtype=np.int32)
    lens = np.empty(n, dtype=np.int32)
    for i, v in enumerate(vals):  # per-row only to unpack bytes; O(n) cheap
        if bytes_mode:
            cp = np.frombuffer(v.encode("utf-8"), dtype=np.uint8)[:lmax]
        else:
            cp = np.frombuffer(v.encode("utf-32-le"), dtype=np.uint32)[:lmax]
        out[i, : len(cp)] = cp
        lens[i] = len(cp)
    return out, lens


def _jaro_block(a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
                ) -> np.ndarray:
    """Vectorized Jaro similarity for one block of rows.

    a,b: (n, L) code matrices; la,lb: lengths. Loop is over L (string
    positions), all row-wise work is numpy.

    Fast path: identical strings (the dominant case downstream of an
    exact-key blocking rule) resolve to 1.0 without the matching loop.
    """
    identical = (la == lb) & (a == b).all(axis=1)
    if identical.any():
        out = np.empty(len(la), dtype=np.float64)
        out[identical] = np.where(la[identical] == 0, 0.0, 1.0)
        rest = ~identical
        if rest.any():
            out[rest] = _jaro_block(a[rest], la[rest], b[rest], lb[rest])
        return out
    n, L = a.shape
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)  # (n,)
    ks = np.arange(L, dtype=np.int32)
    b_valid = ks[None, :] < lb[:, None]
    b_matched = np.zeros((n, L), dtype=bool)
    a_match_k = np.full((n, L), -1, dtype=np.int32)  # for a-pos j: matched k
    for j in range(int(la.max(initial=0))):
        aj = a[:, j]  # (n,)
        active = j < la
        # candidates: same char, within window, b pos valid & unmatched
        cand = (
            (b[:, :] == aj[:, None])
            & (np.abs(ks[None, :] - j) <= window[:, None])
            & b_valid
            & ~b_matched
            & active[:, None]
        )
        has = cand.any(axis=1)
        k_first = np.where(has, cand.argmax(axis=1), -1)
        rows = np.nonzero(has)[0]
        b_matched[rows, k_first[rows]] = True
        a_match_k[:, j] = np.where(has & active, k_first, -1)
    m = (a_match_k >= 0).sum(axis=1).astype(np.float64)  # (n,)
    # transpositions: a's matched chars in j-order vs b's matched chars in
    # k-order; count mismatching positions, halve.
    mi = a_match_k >= 0  # (n, L) a-side matched mask (j order)
    order_a = np.cumsum(mi, axis=1) - 1
    order_b = np.cumsum(b_matched, axis=1) - 1
    mmax = int(m.max(initial=0))
    t = np.zeros(n, dtype=np.float64)
    if mmax > 0:
        seq_a = np.full((n, mmax), -2, dtype=np.int32)
        seq_b = np.full((n, mmax), -3, dtype=np.int32)
        ra, ca = np.nonzero(mi)
        seq_a[ra, order_a[ra, ca]] = a[ra, ca]
        rb, cb = np.nonzero(b_matched)
        seq_b[rb, order_b[rb, cb]] = b[rb, cb]
        # DuckDB (vendored rapidfuzz) floors the half-transposition count
        mism = ((seq_a != seq_b) & (seq_a != -2) & (seq_b != -3)).sum(axis=1)
        t = (mism // 2).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / la + m / lb + (m - t) / m) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)  # incl. either/both side empty
    return jaro


def _prefix_len(a, la, b, lb, cap: int = 4) -> np.ndarray:
    L = min(cap, a.shape[1])
    eq = (a[:, :L] == b[:, :L]) & (a[:, :L] >= 0) & (b[:, :L] >= 0)
    # running AND then sum
    run = np.cumprod(eq, axis=1, dtype=bool)
    return run.sum(axis=1).astype(np.float64)


def _ceiling_error(bad: int, lhard: int) -> ValueError:
    return ValueError(
        f"similarity kernel input of length {bad} exceeds the exact-"
        f"computation ceiling ({lhard}); these kernels are for "
        "name/path-like columns — pre-truncate, fingerprint, or shingle "
        "content-like columns explicitly instead")


def _jaro_winkler_block(a, la, b, lb) -> np.ndarray:
    """Jaro-Winkler matching DuckDB's jaro_winkler_similarity: common
    prefix up to 4, scaling 0.1, boost only when jaro > 0.7."""
    jaro = _jaro_block(a, la, b, lb)
    pl = _prefix_len(a, la, b, lb)
    return np.where(jaro > 0.7, jaro + 0.1 * pl * (1.0 - jaro), jaro)


def _levenshtein_block(a, la, b, lb) -> np.ndarray:
    """Levenshtein, vectorized over rows; loops over i (chars of a)
    with the prefix-min trick resolving the in-row left dependency:
      D[i,j] = min(cand[j], min_{k<j}(cand[k] + (j-k)))
             = min.accumulate(cand - j)[j] + j   where cand folds the
      delete/substitute candidates.
    """
    n, L = a.shape
    Lb = b.shape[1]
    js = np.arange(Lb + 1, dtype=np.float64)
    prev = np.tile(js, (n, 1))  # D[0, :] = j
    imax = int(la.max(initial=0))
    for i in range(1, imax + 1):
        ai = a[:, i - 1]  # (n,)
        active = (i <= la)
        sub_cost = (b != ai[:, None]).astype(np.float64)  # (n, Lb)
        cand = np.empty((n, Lb + 1), dtype=np.float64)
        cand[:, 0] = i  # first column: i deletions
        # delete (from above) vs substitute (diag)
        cand[:, 1:] = np.minimum(prev[:, 1:] + 1.0, prev[:, :-1] + sub_cost)
        # resolve left-neighbor (insert) dependency via prefix-min
        shifted = cand - js[None, :]
        run = np.minimum.accumulate(shifted, axis=1)
        cur = np.minimum(cand, run + js[None, :])
        # mask invalid b positions beyond lb: distance only read at j=lb
        prev = np.where(active[:, None], cur, prev)
    return prev[np.arange(n), lb].astype(np.int64)


def _dl_unrestricted_block(a, la, b, lb) -> np.ndarray:
    """UNRESTRICTED Damerau-Levenshtein (DuckDB's damerau_levenshtein and
    the reference's Scala UDF semantics — transposed characters may take
    part in further edits, unlike OSA: dl("ca","abc")=2, osa=3).

    Classic last-occurrence formulation (Lowrance-Wagner), row-vectorized:
    the full (n, La+2, Lb+2) D tensor is kept because the transposition
    candidate D[k,l] reaches back to arbitrary earlier rows. `da` (last row
    where each alphabet symbol occurred in a) is a per-row table over the
    batch's compacted alphabet; `db` (last column matching a[i] within the
    current row) vectorizes as a running maximum over match positions. The
    insert-chain dependency resolves with the same prefix-min trick as
    Levenshtein.
    """
    n, La = a.shape
    Lb = b.shape[1]
    rows = np.arange(n)
    # compact alphabet; index 0 reserved for padding
    alphabet = np.unique(np.concatenate([a.ravel(), b.ravel()]))
    alphabet = alphabet[alphabet >= 0]
    a_idx = np.where(a >= 0, np.searchsorted(alphabet, np.clip(a, 0, None)) + 1, 0)
    b_idx = np.where(b >= 0, np.searchsorted(alphabet, np.clip(b, 0, None)) + 1, 0)
    maxdist = (la + lb).astype(np.float64)

    d = np.zeros((n, La + 2, Lb + 2), dtype=np.float64)
    d[:, 0, :] = maxdist[:, None]
    d[:, :, 0] = maxdist[:, None]
    d[:, 1, 1:] = np.arange(Lb + 1, dtype=np.float64)[None, :]   # d[1][j+1]=j
    d[:, 1:, 1] = np.arange(La + 1, dtype=np.float64)[None, :]   # d[i+1][1]=i

    da = np.zeros((n, len(alphabet) + 1), dtype=np.int64)
    js = np.arange(1, Lb + 1, dtype=np.float64)   # j = 1..Lb
    Jfull = np.arange(Lb + 2, dtype=np.float64)   # column index J = j+1
    imax = int(la.max(initial=0))
    for i in range(1, imax + 1):
        active = i <= la
        ai = a_idx[:, i - 1]  # (n,) 0 for padding (inactive rows)
        cost = (b_idx != ai[:, None]).astype(np.float64)  # (n, Lb)
        # l = db just before j: last j' < j with b[j'] == a[i]
        match_pos = np.where(b_idx == ai[:, None], np.arange(1, Lb + 1), 0)
        incl = np.maximum.accumulate(match_pos, axis=1)
        l = np.concatenate([np.zeros((n, 1), dtype=np.int64), incl[:, :-1]],
                           axis=1)  # (n, Lb)
        k = da[rows[:, None], b_idx]  # (n, Lb) last row where b[j] seen in a
        trans = (d[rows[:, None], k, l]
                 + (i - k - 1) + 1.0 + (js[None, :] - l - 1))
        diag = d[:, i, 1:Lb + 1] + cost    # d[i-1][j-1] -> mine[i][j] + cost
        up = d[:, i, 2:Lb + 2] + 1.0       # d[i][j+1] + 1
        cand = np.empty((n, Lb + 2), dtype=np.float64)
        cand[:, 0] = maxdist
        cand[:, 1] = i                     # d[i+1][1] = i
        cand[:, 2:] = np.minimum(np.minimum(diag, up), trans)
        # left/insert chain: cur[J] = min(cand[J], min_{J'<J} cur[J'] + J-J')
        shifted = cand - Jfull[None, :]
        run = np.minimum.accumulate(shifted, axis=1)
        cur = np.minimum(cand, run + Jfull[None, :])
        d[:, i + 1, :] = np.where(active[:, None], cur, d[:, i + 1, :])
        da[rows[active], ai[active]] = i
    return d[rows, la + 1, lb + 1].astype(np.int64)


# the full-D-tensor DL kernel is O(chunk * L^2) memory: bound both
_DL_LMAX = 128
_DL_CHUNK = 512


def _rect_block(block):
    """Adapt a kernel that accepts different a/b widths so the shared square
    (n, cap) driver layout trims each side to its own max length."""

    def run(a, la, b, lb):
        wa = max(int(la.max(initial=0)), 1)
        wb = max(int(lb.max(initial=0)), 1)
        return block(a[:, :wa], la, b[:, :wb], lb)

    return run


class _Kernel(NamedTuple):
    duck_fn: str        # the DuckDB builtin the kernel is pinned to
    bytes_mode: bool    # True: UTF-8 bytes (DuckDB's semantics on any
                        # input); False: codepoints (DuckDB only on ASCII)
    block: Callable     # numpy kernel over (n, L) code matrices
    lmax: int           # fast-path width
    chunk: int          # fast-path rows per block call
    lhard: int          # exactness ceiling
    cell_budget: int    # matrix cells per long-row mini-batch
    out_type: pa.DataType


_KERNELS = {
    "jaro": _Kernel("jaro_similarity", True, _jaro_block, _LMAX, _CHUNK,
                    _LHARD_JARO, 1 << 28, pa.float64()),
    "jaro_winkler": _Kernel("jaro_winkler_similarity", True,
                            _jaro_winkler_block, _LMAX, _CHUNK,
                            _LHARD_JARO, 1 << 28, pa.float64()),
    "levenshtein": _Kernel("levenshtein", False,
                           _rect_block(_levenshtein_block), _LMAX, _CHUNK,
                           _LHARD_LEV, 1 << 28, pa.int64()),
    # DL memory is the binder: the (n, La+2, Lb+2) float64 tensor
    "damerau_levenshtein": _Kernel(
        "damerau_levenshtein", False, _rect_block(_dl_unrestricted_block),
        _DL_LMAX, _DL_CHUNK, _LHARD_DL, 1 << 23, pa.int64()),
}


def string_metric(kind: str, s1: pa.Array, s2: pa.Array) -> pa.Array:
    """`kind` ("jaro", "jaro_winkler", "levenshtein",
    "damerau_levenshtein") of two aligned Arrow string arrays, elementwise:
    float64 similarities, int64 distances, NULL treated as "". The one
    routing point between an Arrow batch and DuckDB or the numpy kernels
    (see the module docstring); raises ValueError past the kind's ceiling."""
    k = _KERNELS[kind]
    a = pc.fill_null(s1, "")
    b = pc.fill_null(s2, "")
    if len(a) == 0:
        return pa.array([], type=k.out_type)
    if k.bytes_mode:
        # bytes >= codepoints, so the byte ceiling covers both measures
        length, duck = pc.binary_length, _duckdb is not None
    else:
        ascii_ = (pc.all(pc.string_is_ascii(a)).as_py()
                  and pc.all(pc.string_is_ascii(b)).as_py())
        # on ASCII, bytes == codepoints and the byte length is O(1) a row
        length = pc.binary_length if ascii_ else pc.utf8_length
        duck = ascii_ and _duckdb is not None
    la = length(a).to_numpy()
    lb = length(b).to_numpy()
    wmax = int(max(la.max(), lb.max()))
    if wmax > k.lhard:
        raise _ceiling_error(wmax, k.lhard)
    if duck:
        return _duck_metric(k.duck_fn, a, b)
    return pa.array(_numpy_metric(k, a.to_numpy(zero_copy_only=False),
                                  b.to_numpy(zero_copy_only=False), la, lb),
                    type=k.out_type)


def _numpy_metric(k: _Kernel, v1: np.ndarray, v2: np.ndarray,
                  l1: np.ndarray, l2: np.ndarray) -> np.ndarray:
    """Chunked numpy kernel driver with an EXACT long-string slow path.

    Rows where both sides fit `k.lmax` run in `k.chunk`-sized batches at
    width `k.lmax` (the hot path). Longer rows are sorted by length and run
    in narrow mini-batches at their natural width, sized so each batch
    stays under `k.cell_budget` matrix cells: no truncation, so values
    match the oracle at any length up to the ceiling."""
    width = np.maximum(l1, l2)
    out = np.empty(len(v1), dtype=k.out_type.to_pandas_dtype())

    def run(idx: np.ndarray, step: int) -> None:
        for lo in range(0, len(idx), step):
            sel = idx[lo:lo + step]
            cap = int(width[sel].max(initial=1)) or 1
            a, la = _codes_arr(v1[sel], l1[sel], cap, k.bytes_mode)
            b, lb = _codes_arr(v2[sel], l2[sel], cap, k.bytes_mode)
            out[sel] = k.block(a, la, b, lb)

    fast = width <= k.lmax
    run(np.nonzero(fast)[0], k.chunk)
    idx_long = np.nonzero(~fast)[0]
    if len(idx_long):
        idx_long = idx_long[np.argsort(width[idx_long], kind="stable")]
        cap = int(width[idx_long].max())
        run(idx_long, max(1, k.cell_budget // (cap * cap)))
    return out


def _np_metric(kind: str, s1: pd.Series, s2: pd.Series) -> np.ndarray:
    """pandas adapter over string_metric: NULL/NaN as "", values as str."""
    a, b = (pa.array(s.fillna("").astype(str), type=pa.string())
            for s in (s1, s2))
    return string_metric(kind, a, b).to_numpy(zero_copy_only=False,
                                              writable=True)


def jaro_np(s1: pd.Series, s2: pd.Series) -> np.ndarray:
    return _np_metric("jaro", s1, s2)


def jaro_winkler_np(s1: pd.Series, s2: pd.Series) -> np.ndarray:
    return _np_metric("jaro_winkler", s1, s2)


def edit_distance_np(s1: pd.Series, s2: pd.Series,
                     damerau: bool) -> np.ndarray:
    return _np_metric("damerau_levenshtein" if damerau else "levenshtein",
                      s1, s2)


def cosine_np(v1: pd.Series, v2: pd.Series) -> np.ndarray:
    """Cosine similarity over array<float> columns (ragged -> stacked)."""
    a = np.stack(v1.apply(lambda x: np.asarray(x, dtype=np.float64)).to_numpy())
    b = np.stack(v2.apply(lambda x: np.asarray(x, dtype=np.float64)).to_numpy())
    num = (a * b).sum(axis=1)
    den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = num / den
    return np.where(den == 0, 0.0, out)


# --------------------------------------------------- pairwise (array) best

_PAIRWISE_REDUCERS = {"jaro": np.maximum, "jaro_winkler": np.maximum,
                      "levenshtein": np.minimum,
                      "damerau_levenshtein": np.minimum}


# flattened cross-product rows buffered per kernel call: bounds peak memory
# when array columns are wide (a 300x300-alias row alone is 90k pairs) while
# keeping the kernel batches large enough to amortize the numpy setup
_PAIRWISE_FLAT_BUDGET = 1 << 21


def pairwise_best_np(a1: pd.Series, a2: pd.Series, metric: str) -> np.ndarray:
    """Best pairwise string metric between two array<string> columns
    (reference PairwiseStringDistanceFunctionLevel,
    comparison_level_library.py:598-692): max for similarity metrics,
    min for edit distances. The cross-products are flattened in slices of
    at most _PAIRWISE_FLAT_BUDGET rows, each slice ONE vectorized kernel
    call followed by a segmented reduce — no per-row Python kernel
    invocations, bounded peak memory regardless of array widths. Rows with
    a null/empty side or no valid (non-null) element pair yield NaN
    (condition false downstream, matching the SQL array_min-over-NULL
    behavior)."""
    reducer = _PAIRWISE_REDUCERS[metric]
    n = len(a1)
    out = np.full(n, np.nan)
    v1 = a1.to_numpy(dtype=object)
    v2 = a2.to_numpy(dtype=object)

    flat_l: list[str] = []
    flat_r: list[str] = []
    counts: list[int] = []
    rows: list[int] = []

    def flush() -> None:
        if not flat_l:
            return
        scores = string_metric(
            metric, pa.array(flat_l, type=pa.string()),
            pa.array(flat_r, type=pa.string())
        ).to_numpy().astype(np.float64)
        cnt = np.asarray(counts, dtype=np.int64)
        starts = np.cumsum(cnt) - cnt
        # segments are contiguous in append order: each row's slice runs
        # from its start to the next row's start (or the end)
        best = reducer.reduceat(scores, starts)
        idx = np.asarray(rows, dtype=np.int64)
        # a single row's product can span flushes: combine with any prior
        prior = out[idx]
        merged = np.where(np.isnan(prior), best, reducer(prior, best))
        out[idx] = merged
        flat_l.clear(), flat_r.clear(), counts.clear(), rows.clear()

    for i in range(n):
        l, r = v1[i], v2[i]
        if l is None or r is None:
            continue
        lv = [x for x in l if x is not None]
        rv = [y for y in r if y is not None]
        if not lv or not rv:
            continue
        # slice this row's cross product into budget-sized pieces (the
        # budget is soft: one left element's row of pairs is never split)
        for x in lv:
            if flat_l and len(flat_l) + len(rv) > _PAIRWISE_FLAT_BUDGET:
                flush()
            if not rows or rows[-1] != i:
                rows.append(i)
                counts.append(0)
            flat_l.extend([x] * len(rv))
            flat_r.extend(rv)
            counts[-1] += len(rv)
    flush()
    return out


def _f64_out(vals: np.ndarray):
    """float64 numpy -> Arrow with NaN mapped to NULL — the exact semantics
    of the old pandas-UDF boundary (pandas->Arrow treats NaN as null).
    Critical for the pairwise kinds, whose no-valid-pair rows are NaN: a
    raw NaN VALUE would satisfy `metric >= threshold` in Spark (NaN sorts
    above everything), silently flipping gammas; as NULL the comparison is
    false, as before."""
    vals = np.asarray(vals, dtype=np.float64)
    return pa.array(vals, type=pa.float64(), mask=np.isnan(vals))


# ------------------------------------------------------------- Arrow UDFs
#
# All pair-table metric UDFs share ONE eval type (SQL_ARROW_BATCHED: the
# worker hands the function pyarrow.Arrays), so any combination of them in
# a projection still plans a single ArrowEvalPython stage. The scalar
# string kinds hand their Arrow batch straight to string_metric; the
# array/vector kinds convert to pandas up front and call their kernels.

@F.arrow_udf(DoubleType())
def pairwise_jaro_udf(a1: pa.Array, a2: pa.Array) -> pa.Array:
    return _f64_out(pairwise_best_np(a1.to_pandas(), a2.to_pandas(),
                                     "jaro"))


@F.arrow_udf(DoubleType())
def pairwise_jaro_winkler_udf(a1: pa.Array, a2: pa.Array) -> pa.Array:
    return _f64_out(pairwise_best_np(a1.to_pandas(), a2.to_pandas(),
                                     "jaro_winkler"))


@F.arrow_udf(DoubleType())
def pairwise_damerau_levenshtein_udf(a1: pa.Array, a2: pa.Array
                                     ) -> pa.Array:
    return _f64_out(pairwise_best_np(a1.to_pandas(), a2.to_pandas(),
                                     "damerau_levenshtein"))


@F.arrow_udf(DoubleType())
def jaro_winkler_udf(s1: pa.Array, s2: pa.Array) -> pa.Array:
    return string_metric("jaro_winkler", s1, s2)


@F.arrow_udf(DoubleType())
def jaro_udf(s1: pa.Array, s2: pa.Array) -> pa.Array:
    return string_metric("jaro", s1, s2)


@F.arrow_udf(IntegerType())
def damerau_levenshtein_udf(s1: pa.Array, s2: pa.Array) -> pa.Array:
    return pc.cast(string_metric("damerau_levenshtein", s1, s2), pa.int32())


@F.arrow_udf(IntegerType())
def levenshtein_udf(s1: pa.Array, s2: pa.Array) -> pa.Array:
    """Levenshtein pinned to Spark's `levenshtein` builtin: codepoint
    counting AND NULL -> NULL (unlike the other metric UDFs' NULL-as-""
    convention — this UDF exists as a drop-in for the JVM expression
    inside an existing Arrow metric stage, where the DuckDB builtin
    measured ~25-30% off the whole scoring projection vs the JVM
    expression; equality with the builtin is fuzz-pinned incl. non-ASCII
    and nulls). Unlike the builtin, it raises past the 8192-codepoint
    ceiling."""
    out = pc.cast(string_metric("levenshtein", s1, s2), pa.int32())
    nulls = pc.or_(pc.is_null(s1), pc.is_null(s2))
    if pc.any(nulls).as_py():
        out = pc.if_else(nulls, pa.scalar(None, pa.int32()), out)
    return out


@F.arrow_udf(DoubleType())
def cosine_similarity_udf(v1: pa.Array, v2: pa.Array) -> pa.Array:
    return _f64_out(cosine_np(v1.to_pandas(), v2.to_pandas()))


def register_udfs(spark) -> None:
    """Register SQL-callable names mirroring the reference's JAR UDF surface
    (/root/reference/splink/internals/spark/database_api.py:166-190)."""
    spark.udf.register("jaro_winkler", jaro_winkler_udf)
    spark.udf.register("jaro_sim", jaro_udf)
    spark.udf.register("damerau_levenshtein", damerau_levenshtein_udf)
    spark.udf.register("cosine_similarity", cosine_similarity_udf)
