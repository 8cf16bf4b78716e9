"""Vectorized string-similarity kernels (Arrow-batched; no per-row Python
in the Spark plan — everything here executes inside pandas UDF batches).

The reference scores candidate keys with ``thefuzz.fuzz.ratio`` backed by
python-Levenshtein (/root/reference/app/core.py:29,695;
requirements.txt pins thefuzz + python-Levenshtein). That function is
      ratio(a, b) = int(round(100 * (|a| + |b| - indel(a, b)) / (|a| + |b|)))
where ``indel`` is the Levenshtein distance with substitutions forbidden
(equivalently: substitution cost 2) — i.e. |a| + |b| - 2*LCS(a, b).
Neither thefuzz nor rapidfuzz is available in this container, so
``indel_distance`` re-implements the same recurrence in numpy; the F1
gate (BASELINE.md) requires bit-identical scores, covered by golden
tests against hand-computed values in tests/test_similarity.py.

The north rule additionally asks for batched Jaro-Winkler + token-set
Jaccard + normalized Levenshtein over candidate pairs; all are below.

The inner DP uses the classic "min-accumulate" trick to vectorize the
left-to-right dependency: with base[j] = min(prev[j]+1, prev[j-1]+cost_j),
cur[j] = min_{k<=j}(base[k] + (j-k)) = accumulate-min(base - j) + j.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType


def _codes(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)


def indel_distance(a: str, b: str) -> int:
    """Levenshtein distance with insertions/deletions only (sub cost 2)."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la + lb
    if a == b:
        return 0
    if la < lb:  # iterate over the shorter string
        a, b, la, lb = b, a, lb, la
    bc = _codes(b)
    j = np.arange(lb + 1, dtype=np.int64)
    prev = j.copy()
    base = np.empty(lb + 1, dtype=np.int64)
    for ca in _codes(a):
        cost = np.where(bc == ca, 0, 2)
        base[0] = prev[0] + 1
        np.minimum(prev[1:] + 1, prev[:-1] + cost, out=base[1:])
        prev = np.minimum.accumulate(base - j) + j
        base = np.empty(lb + 1, dtype=np.int64)
    return int(prev[lb])


def levenshtein_distance(a: str, b: str) -> int:
    """Unit-cost Levenshtein (with substitutions)."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la + lb
    if a == b:
        return 0
    if la < lb:
        a, b, la, lb = b, a, lb, la
    bc = _codes(b)
    j = np.arange(lb + 1, dtype=np.int64)
    prev = j.copy()
    base = np.empty(lb + 1, dtype=np.int64)
    for ca in _codes(a):
        cost = np.where(bc == ca, 0, 1)
        base[0] = prev[0] + 1
        np.minimum(prev[1:] + 1, prev[:-1] + cost, out=base[1:])
        prev = np.minimum.accumulate(base - j) + j
        base = np.empty(lb + 1, dtype=np.int64)
    return int(prev[lb])


#: The reference's fuzzy-match rule, ``fuzz.ratio > 85`` (its
#: core.py:697): run-grouping joins and the scorer's gate both compare
#: ``fuzz_ratio`` against it.
FUZZ_THRESHOLD = 85

#: Jaro-Winkler is only decision-relevant alongside a high norm_lev (the
#: is_dup rule needs norm_lev >= scoring.MIN_NORM_LEV), so the
#: python-loop JW runs only where norm_lev clears this lower margin.
JW_GATE_LEV = 0.8


def fuzz_ratio(a: str | None, b: str | None) -> int:
    """thefuzz.fuzz.ratio parity (0-100 int). Both-empty -> 100, matching
    Levenshtein.ratio('','') == 1.0."""
    a = a or ""
    b = b or ""
    lensum = len(a) + len(b)
    if lensum == 0:
        return 100
    return int(round(100.0 * (lensum - indel_distance(a, b)) / lensum))


def norm_levenshtein(a: str | None, b: str | None) -> float:
    """1 - lev/max(|a|,|b|) in [0,1]; both-empty -> 1.0."""
    a = a or ""
    b = b or ""
    m = max(len(a), len(b))
    if m == 0:
        return 1.0
    return 1.0 - levenshtein_distance(a, b) / m


def jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    ac, bc = _codes(a), _codes(b)
    b_taken = np.zeros(lb, dtype=bool)
    a_match = np.full(la, -1, dtype=np.int64)
    matches = 0
    for i in range(la):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_taken[j] and bc[j] == ac[i]:
                b_taken[j] = True
                a_match[i] = j
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: matched chars of a in a-order vs matched chars of b
    # in b-order; t = (# differing positions) // 2
    a_side = ac[a_match >= 0]
    b_side = bc[b_taken]
    t = int(np.sum(a_side != b_side)) // 2
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str | None, b: str | None, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler similarity in [0,1] (standard: prefix cap 4, boost
    only when jaro > 0.7)."""
    a = a or ""
    b = b or ""
    j = jaro(a, b)
    if j <= 0.7:
        return j
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x == y:
            prefix += 1
        else:
            break
    return j + prefix * prefix_weight * (1.0 - j)


def token_set_jaccard(a_tokens, b_tokens) -> float:
    """Jaccard over token sets; both-empty -> 1.0. Accepts lists or
    numpy arrays (Arrow hands array columns to pandas as np.ndarray)."""
    sa = set(a_tokens) if a_tokens is not None else set()
    sb = set(b_tokens) if b_tokens is not None else set()
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    union = len(sa) + len(sb) - inter
    return inter / union if union else 1.0


# ---------------------------------------------------------------------------
# Batched (pair-deduplicating) kernels: the scoring hot path. Candidate
# pairs repeat the same key pair many times (hot stems like 'main',
# 'utils'); computing each distinct pair once is a 10-100x win that holds
# at any scale because it is per-Arrow-batch, not global state.
# ---------------------------------------------------------------------------


def _pad_codes(strs: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(n, max_len) uint32 codepoint matrix (0-padded) + length vector.

    Vectorized: ONE ''.join + utf-32 encode for the whole tile and a
    single fancy-index scatter — the per-string encode loop this
    replaces was 75% of the name-scoring kernel's profile (401k Python
    calls per 10k-pair batch)."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    width = max(1, int(lens.max()) if n else 1)
    mat = np.zeros((n, width), dtype=np.uint32)
    total = int(lens.sum())
    if total:
        flat = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
        row = np.repeat(np.arange(n), lens)
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        col = np.arange(total) - offs[row]
        mat[row, col] = flat
    return mat, lens


def _batch_dp(A: list[str], B: list[str], sub_cost: int) -> np.ndarray:
    """Edit-distance DP vectorized ACROSS pairs: one (n, width) matrix op
    per character step instead of one numpy call per char per pair —
    ~50x less numpy dispatch overhead on short keys. sub_cost=2 gives
    the indel distance (fuzz.ratio), 1 the classic Levenshtein.

    All scratch buffers are preallocated and reused across character
    steps (``out=`` everywhere): the naive formulation allocated ~6
    (n x width) temporaries per step, and that page-churn — not CPU —
    was the multi-core scaling ceiling (measured 0.67 -> ~1.0 scaling
    efficiency on 32 procs after the rewrite)."""
    (out,) = _batch_dp_multi(A, B, (sub_cost,))
    return out


def _batch_dp_multi(
    A: list[str], B: list[str], sub_costs: tuple[int, ...]
) -> list[np.ndarray]:
    """Run the tiled DP once per sub_cost over SHARED padded codepoint
    tiles: the scorer needs both indel (fuzz) and classic Levenshtein,
    and padding/encoding the same strings twice was pure waste."""
    n = len(A)
    outs = [np.empty(n, dtype=np.int64) for _ in sub_costs]
    # L2-sized row tiles: the scratch set stays cache-resident per core
    # instead of streaming through shared memory bandwidth
    tile = 2048
    for s in range(0, n, tile):
        e = min(s + tile, n)
        Am, la = _pad_codes(A[s:e])
        Bm, lb = _pad_codes(B[s:e])
        for out, sc in zip(outs, sub_costs):
            out[s:e] = _dp_from_codes(Am, la, Bm, lb, sc)
    return outs


def _dp_from_codes(
    Am: np.ndarray, la: np.ndarray, Bm: np.ndarray, lb: np.ndarray, sub_cost: int
) -> np.ndarray:
    n = len(la)
    maxa, maxb = Am.shape[1], Bm.shape[1]
    # dtype minimization: the DP streams every buffer through memory
    # each char step, and memory bandwidth — not CPU — is the multicore
    # ceiling. Distances <= la+lb -> int16 unless keys are huge; BMP-only
    # keys compare as uint16.
    dt = np.int16 if (maxa + maxb) < 30000 else np.int32
    if Am.size and Bm.size and max(Am.max(), Bm.max()) < 0x10000:
        Am = Am.astype(np.uint16)
        Bm = Bm.astype(np.uint16)
    j = np.arange(maxb + 1, dtype=dt)
    prev = np.broadcast_to(j, (n, maxb + 1)).copy()
    out = np.empty(n, dtype=np.int64)
    out[la == 0] = lb[la == 0]
    col = np.arange(n)
    # preallocated scratch, reused across char steps
    neq = np.empty((n, maxb), dtype=bool)
    cost = np.empty((n, maxb), dtype=dt)
    t1 = np.empty((n, maxb), dtype=dt)
    t2 = np.empty((n, maxb), dtype=dt)
    base = np.empty((n, maxb + 1), dtype=dt)
    one = dt(1)
    sub = dt(sub_cost)
    for i in range(1, maxa + 1):
        np.not_equal(Bm, Am[:, i - 1][:, None], out=neq)
        np.multiply(neq, sub, out=cost, casting="unsafe")
        np.add(prev[:, :-1], cost, out=t1)  # substitution/indel step
        np.add(prev[:, 1:], one, out=t2)  # deletion step
        base[:, 0] = i
        np.minimum(t1, t2, out=base[:, 1:])
        # insertion chain: cur[j] = min_k<=j (base[k] + (j - k))
        np.subtract(base, j, out=base)
        np.minimum.accumulate(base, axis=1, out=base)
        np.add(base, j, out=prev)
        done = la == i
        if done.any():
            out[done] = prev[col[done], lb[done]]
    return out


def name_scores_arrays(
    av: np.ndarray, bv: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All three name-similarity kernels in ONE pass over the DISTINCT
    (a, b) pairs of the batch: factorize-based dedup, batched-DP kernels
    over the unique pairs. Inputs are object arrays of (non-null)
    strings; returns (fuzz int32, jw float64, norm_lev float64); jw is
    NaN where norm_lev < ``JW_GATE_LEV``."""
    # tuple keys force pandas' PyObject hash table — the string-key path
    # (a + sep + b) routes to a C-string table that TRUNCATES AT NUL
    # bytes (found by hypothesis: '\x000' vs '0' collided)
    key = pd.Series(list(zip(av, bv)), dtype=object)
    codes, _ = pd.factorize(key, sort=False)
    _, first_idx = np.unique(codes, return_index=True)
    ua = [av[i] for i in first_idx]
    ub = [bv[i] for i in first_idx]

    la = np.fromiter((len(s) for s in ua), dtype=np.float64, count=len(ua))
    lb = np.fromiter((len(s) for s in ub), dtype=np.float64, count=len(ub))
    lensum = la + lb
    maxlen = np.maximum(la, lb)

    indel_i, lev_i = _batch_dp_multi(ua, ub, (2, 1))
    indel = indel_i.astype(np.float64)
    lev = lev_i.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        fuzz_u = np.where(
            lensum > 0, np.round(100.0 * (lensum - indel) / np.where(lensum > 0, lensum, 1)), 100.0
        ).astype(np.int32)
        lev_u = np.where(maxlen > 0, 1.0 - lev / np.where(maxlen > 0, maxlen, 1), 1.0)
    # the (python-loop) Jaro-Winkler only where lev clears JW_GATE_LEV;
    # elsewhere report NaN — "gated out", the same convention as the
    # jaccard column; the scorer nulls it before persisting so the
    # stored jw is never a fake 0.0 (cascade contract — see
    # operators/scoring.py docstring). NaN fails every >= threshold
    # comparison, so the is_dup rule is unaffected.
    jw_u = np.full(len(ua), np.nan, dtype=np.float64)
    for i in np.flatnonzero(lev_u >= JW_GATE_LEV):
        jw_u[i] = jaro_winkler(ua[i], ub[i])

    # np.unique returns first_idx in unique-code order == code value order
    return fuzz_u[codes].astype("int32"), jw_u[codes], lev_u[codes]


def name_scores_frame(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """pandas wrapper over name_scores_arrays (scalar-UDF/test API)."""
    av = a.fillna("").to_numpy(dtype=object)
    bv = b.fillna("").to_numpy(dtype=object)
    fuzz, jw, lev = name_scores_arrays(av, bv)
    return pd.DataFrame(
        {"fuzz_key": fuzz, "jw": jw, "norm_lev": lev}, index=a.index
    )


# ---------------------------------------------------------------------------
# Spark-facing pandas UDFs (Arrow-batched; SURVEY §2.10)
# ---------------------------------------------------------------------------

name_scores_udf = F.pandas_udf(
    name_scores_frame,
    StructType(
        [
            StructField("fuzz_key", IntegerType()),
            StructField("jw", DoubleType()),
            StructField("norm_lev", DoubleType()),
        ]
    ),
)
