"""Candidate generation: multi-channel blocking (SURVEY §2.3 J1/J2 + §7 Stage 3).

One primitive, ``block_pairs``, turns a ``(_bk, file_id)`` frame into
candidate pairs. A block is the set of rows sharing ``_bk``:

- a block of at most ``cap`` rows emits all its pairs;
- a block over ``cap`` rows (the hot keys: ``main``, ``LICENSE``, the
  empty file) emits a linear star to its minimum ``file_id``, which
  keeps a true duplicate cluster connected at O(size) edges, and, when
  ``salted``, all pairs within ``ceil(size / cap)`` hash sub-blocks of
  about ``cap`` rows each. Pair count per block is O(cap * size)
  instead of O(size^2): the north rule's "block-size capping".

Block size and star root come from ONE ``groupBy`` + join, never a
window: a window partition is one task that AQE cannot split, so a
10^8-row hot key would be a straggler holding the whole block. The
groupBy absorbs the hot key map-side (partial aggregation), and the
join back is AQE-manageable (broadcast when the count side is small,
skew-split sort-merge when it is not). Singleton blocks are dropped on
the count side before the join, so they never shuffle twice.

The channels are thin callers of that primitive:

1. ``content_sha_star``  — exact duplicates: ``_bk = content_sha256``,
   cap 1, so every multi-row block is a star (no pair explosion on
   empty files or vendored licenses).
2. ``exact_key_pairs``   — J2: ``_bk`` = the exact normalized blocking
   key, capped and salted. The salt is ``pmod(xxhash64(file_id),
   n_sub)``: deterministic, uniform, independent of row order.
3. ``minhash_lsh_pairs`` — recall channel for near-duplicates whose
   keys differ (reference's fuzzy > 85 tolerance, core.py:695-697):
   character-shingle MinHash signatures (numpy, Arrow-batched), banded;
   ``_bk`` = band key, capped at ``band_cap``, star only.

All channels emit ``(left_id, right_id, channel)`` with
``left_id < right_id`` and no self-pairs; ``union_channels`` merges
them with one dedup on the pair key.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERSENNE_PRIME = (1 << 61) - 1


def _pairs_within(blocks: DataFrame, key_cols: list[str]) -> DataFrame:
    l = blocks.select(*key_cols, F.col("file_id").alias("left_id"))
    r = blocks.select(*key_cols, F.col("file_id").alias("right_id"))
    return (
        l.join(r, key_cols)
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
    )


def block_pairs(
    keyed: DataFrame, cap: int, channel: str, salted: bool = False
) -> DataFrame:
    """Candidate pairs of a ``(_bk, file_id)`` frame (module docstring):
    all pairs in blocks of size <= ``cap``; over ``cap``, a star to the
    block minimum plus, when ``salted``, all pairs within
    ``ceil(size / cap)`` hash sub-blocks. Null keys form no block."""
    blocks = (
        keyed.groupBy("_bk")
        .agg(F.count("*").alias("_bs"), F.min("file_id").alias("_root"))
        .filter(F.col("_bs") > 1)
    )
    keyed = keyed.join(blocks, "_bk")
    big = keyed.filter(F.col("_bs") > cap)
    parts = []
    if cap > 1:  # at cap 1 every block left (size > 1) is over the cap
        parts.append(_pairs_within(keyed.filter(F.col("_bs") <= cap), ["_bk"]))
    if salted:
        salt = F.pmod(F.xxhash64("file_id"), F.ceil(F.col("_bs") / cap).cast("int"))
        parts.append(_pairs_within(big.withColumn("_salt", salt), ["_bk", "_salt"]))
    parts.append(
        big.filter(F.col("file_id") != F.col("_root")).select(
            F.least("file_id", "_root").alias("left_id"),
            F.greatest("file_id", "_root").alias("right_id"),
        )
    )
    return reduce(DataFrame.unionByName, parts).withColumn("channel", F.lit(channel))


def exact_key_pairs(
    df: DataFrame,
    key_col: str = "norm_name",
    cap: int = 64,
    channel: str = "exact_key",
) -> DataFrame:
    """Self-join on the exact blocking key, capped and salted at ``cap``
    (``block_pairs``). Null and empty keys block nothing."""
    keyed = df.select(F.col(key_col).alias("_bk"), "file_id").filter(
        F.col(key_col).isNotNull() & (F.col(key_col) != "")
    )
    return block_pairs(keyed, cap, channel, salted=True)


def content_sha_star(df: DataFrame, channel: str = "exact_content") -> DataFrame:
    """Exact-duplicate channel: link every row to the min row id of its
    content_sha256 group (``block_pairs`` at cap 1). Linear in block
    size — hot exact-dup blocks (empty files, vendored licenses) never
    pair-explode."""
    keyed = df.select(F.col("content_sha256").alias("_bk"), "file_id")
    return block_pairs(keyed, 1, channel)


# ---------------------------------------------------------------------------
# MinHash-LSH channel
# ---------------------------------------------------------------------------


def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct k-char-shingle hashes via a vectorized polynomial rolling
    hash over the utf-32 codepoints (numpy sliding windows, no Python
    per-shingle loop)."""
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(codes)
    if n == 0:
        return np.array([], dtype=np.uint64)
    if n < k:
        windows = codes[None, :]
        k = n
    else:
        windows = np.lib.stride_tricks.sliding_window_view(codes, k)
    base = np.uint64(1099511628211)
    h = np.zeros(windows.shape[0], dtype=np.uint64)
    for j in range(k):  # k iterations (k ~ 7), each vectorized over all shingles
        h = h * base + windows[:, j]
    return np.unique(h)


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 128,
    shingle_k: int = 7,
    seed: int = 1,
    content_col: str = "content",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(file_id, *passthrough, sig: array<long>) — MinHash signature per
    row, computed in Arrow batches with numpy (one (n_shingles x
    num_perm) broadcasted min per row; no per-row Python in the Spark
    plan). ``passthrough`` carries extra string columns (e.g.
    content_sha256) through the kernel so callers can build a sha-keyed
    signature store as a pure projection — no join back, and crucially
    no shuffle of the content column."""
    a, b = _minhash_params(num_perm, seed)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # vectorize ACROSS documents: concatenate every doc's shingle
            # hashes and take segmented minima with minimum.reduceat —
            # one numpy dispatch per ~30k-shingle chunk instead of one
            # (num_perm x n_shingles) matmul per document.
            shingle_sets = [_shingle_hashes(t or "", shingle_k) for t in pdf[content_col]]
            sigs: list[list[int] | None] = [None] * len(shingle_sets)
            chunk_docs: list[int] = []
            chunk_size = 0

            def flush():
                nonlocal chunk_docs, chunk_size
                if not chunk_docs:
                    return
                parts = [shingle_sets[i] for i in chunk_docs]
                offsets = np.zeros(len(parts), dtype=np.int64)
                np.cumsum([len(p) for p in parts[:-1]], out=offsets[1:])
                flat = np.concatenate(parts)
                # (num_perm, total) universal hash; segmented min per doc
                vals = (a[:, None] * flat[None, :] + b[:, None]) % MERSENNE_PRIME
                mins = np.minimum.reduceat(vals, offsets, axis=1)
                for k, i in enumerate(chunk_docs):
                    sigs[i] = mins[:, k].astype(np.int64).tolist()
                chunk_docs, chunk_size = [], 0

            for i, sh in enumerate(shingle_sets):
                if len(sh) == 0:
                    sigs[i] = [0] * num_perm
                    continue
                chunk_docs.append(i)
                chunk_size += len(sh)
                if chunk_size >= 30_000:
                    flush()
            flush()
            out = {"file_id": pdf["file_id"]}
            for c in passthrough:
                out[c] = pdf[c]
            out["sig"] = sigs
            yield pd.DataFrame(out)

    # id-type-agnostic: the pipeline feeds 8-byte internal longs (fid)
    # as file_id; direct users pass public strings
    schema = (
        f"file_id {dict(df.dtypes)['file_id']}, "
        + "".join(f"{c} string, " for c in passthrough)
        + "sig array<long>"
    )
    return df.select("file_id", *passthrough, content_col).mapInPandas(
        compute, schema=schema
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 7,
    seed: int = 1,
    band_cap: int = 200,
    channel: str = "minhash_lsh",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_perm/bands`` rows; hash each band to a bucket key; equal band
    keys propose a pair. With r=4, b=32 the s-curve crosses ~ (1/b)^(1/r)
    = 0.42 Jaccard — generous recall; precision comes from the scorer.

    Buckets above ``band_cap`` are star-linked instead of pair-exploded
    (``block_pairs``, unsalted).

    ``sigs``: optional precomputed ``(file_id, sig)`` signatures (e.g.
    run_pipeline's signature store, or incremental_link's store-hit ∪
    delta-computed union) — signatures are deterministic per content for
    fixed (num_perm, shingle_k, seed), so reusing them is exact. When
    omitted they are computed from ``df``'s content column."""
    assert num_perm % bands == 0
    r = num_perm // bands
    if sigs is None:
        sigs = minhash_signatures(df, num_perm, shingle_k, seed)
    banded = sigs.select(
        "file_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice(F.col("sig"), i * r + 1, r),
            )
        ).alias("band_idx", "band_sig"),
    ).select(
        "file_id",
        F.concat_ws("_", F.col("band_idx"), F.hash(F.col("band_sig"))).alias("_bk"),
    )
    # block_pairs reads `banded` once per branch (block count, all-pairs,
    # star), and its lineage contains the EXPENSIVE minhash mapInPandas —
    # without a persist the signatures are computed once per branch
    # (measured +40% on the whole query). MEMORY_AND_DISK: at 10^12 rows
    # this is n*bands small rows and spills gracefully; production
    # checkpoints the candidate stage right after anyway
    # (pipeline.run_pipeline).
    from pyspark import StorageLevel

    cached = banded.persist(StorageLevel.MEMORY_AND_DISK)
    # a pair sharing several bands is proposed once per band
    out = block_pairs(cached, band_cap, channel).dropDuplicates(["left_id", "right_id"])
    # expose the persisted dependency so callers can unpersist once
    # their downstream result is materialized (run_pipeline does) —
    # otherwise the cached signatures pin executor memory for the
    # session lifetime
    out._mds_persisted = [cached]
    return out


#: Explicit channel precedence for union_channels: when the same pair is
#: proposed by several channels, the lowest-priority-number tag wins.
#: Unknown channels rank last (priority 99) instead of silently jumping
#: the queue by accident of their name's sort order.
CHANNEL_PRIORITY = {
    "exact_content": 0,
    "exact_key": 1,
    "sorted_neighborhood": 2,
    "minhash_lsh": 3,
}


def union_channels(*channels: DataFrame) -> DataFrame:
    """unionByName + dedup on the pair key (SURVEY §2.7); keeps the
    highest-precedence channel tag per pair via the explicit
    CHANNEL_PRIORITY map (exact > neighborhood > lsh), not string order."""
    deps = [d for c in channels for d in getattr(c, "_mds_persisted", [])]
    out = channels[0]
    for c in channels[1:]:
        out = out.unionByName(c)
    prio = F.coalesce(
        *[
            F.when(F.col("channel") == name, F.lit(p))
            for name, p in CHANNEL_PRIORITY.items()
        ],
        F.lit(99),
    )
    # min over (priority, channel) struct: one shuffle, deterministic
    # tie-break on name for channels sharing a priority bucket.
    merged = (
        out.groupBy("left_id", "right_id")
        .agg(F.min(F.struct(prio.alias("_p"), F.col("channel"))).alias("_pc"))
        .select("left_id", "right_id", F.col("_pc.channel").alias("channel"))
    )
    if deps:
        merged._mds_persisted = deps
    return merged
