"""Pairwise scoring (SURVEY §7 Stage 4, EP2 Spark shape).

The reference scores candidates two ways: fuzz.ratio on the blocking key
during grouping (core.py:695) and an external LLM verdict per candidate
group (core.py:730-768). The LLM is a non-reproducible oracle; per
SURVEY §2.10 the target replaces it with a deterministic rule over
batched similarity scores (north rule: Jaro-Winkler + token-set Jaccard
+ normalized Levenshtein, all Arrow-vectorized).

Scale design — a two-phase CASCADE:

  phase 1 (every candidate pair): join only the NARROW features
    (norm_name, content_sha256) — the join output stays ~100 bytes/row
    at 10^12 pairs — and compute all three name scores in ONE fused
    Arrow UDF (functions/similarity.name_scores_frame: batched DP over
    the batch's distinct key pairs).
  phase 2 (gate survivors only): join the token-set hash arrays and
    verify with exact Jaccard (numpy sorted-set intersect). Survivors
    are a small fraction of candidates, so the wide array columns never
    flow through the full pair volume. (JVM array_intersect is a
    CodegenFallback expression — measured ~30x slower than this path.)

The decision column is pure Catalyst ``when/otherwise`` on top.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ScoringConfig:
    """Deterministic replacement of the reference's LLM verdict.

    ``fuzz_threshold`` is the reference's `> 85` (core.py:697). A pair is
    a duplicate when content is identical (sha equality — 'same song,
    different extension'), or when the blocking keys fuzzy-match like the
    reference AND the contents actually overlap (token Jaccard), which is
    what the LLM verdict was approximating ('different songs sharing a
    title -> NOT DUPLICATE')."""

    fuzz_threshold: int = 85
    min_token_jaccard: float = 0.5
    min_jaro_winkler: float = 0.88
    min_norm_lev: float = 0.86
    high_jaccard: float = 0.9


#: Hex chars of the sha256 prefix the pair joins carry for the
#: exact_content equality (16 hex = 8 bytes; see the collision math at
#: the use site); 8 bytes measured no slower than 16 through the pair
#: joins (BENCH/ab_sha_r05.json).
SHA_PREFIX_HEX_CHARS = 16

NARROW_COLS = ("file_id", "norm_name", "content_sha256")
FEATURE_COLS = ("file_id", "norm_name", "tokens", "content_sha256", "size_chars", "quality")


def duplicate_decision(cfg: ScoringConfig | None = None) -> Column:
    """THE duplicate decision rule — the single implementation, applied
    as a Catalyst predicate over the scored columns (fuzz_key, jw,
    norm_lev, jaccard, exact_content). The cascade's contract makes it
    null-safe by construction: jaccard is NULL iff the gate failed and
    jw is NULL iff the cascade skipped it (norm_lev below the gate
    margin), so every NULL comparison evaluates to NULL and the
    coalesce(..., false) wrapper in score_candidates yields False —
    never a false positive from a never-computed score (NaN, by
    contrast, orders as the LARGEST double in Spark, which is why the
    kernel's NaN markers are normalized to NULL first)."""
    cfg = cfg or ScoringConfig()
    return (
        F.col("exact_content")
        | (
            (F.col("fuzz_key") > cfg.fuzz_threshold)
            & (F.col("jaccard") >= cfg.min_token_jaccard)
        )
        | (
            (F.col("jaccard") >= cfg.high_jaccard)
            & (F.col("jw") >= cfg.min_jaro_winkler)
            & (F.col("norm_lev") >= cfg.min_norm_lev)
        )
    )


#: Arrow kernel output: scores only — the is_dup decision is appended
#: Catalyst-side by score_candidates via duplicate_decision(), so there
#: is exactly ONE copy of the decision rule in the repo. The id columns
#: pass through the kernel zero-copy, so their type follows the input:
#: 8-byte internal longs (fid) in the pipeline, strings for direct
#: operator users.
def _kernel_schema(id_type: str) -> str:
    return (
        f"left_id {id_type}, right_id {id_type}, fuzz_key int, jw double, "
        "norm_lev double, jaccard double, exact_content boolean, gate_passed boolean"
    )


def score_candidates(
    pairs: DataFrame, features: DataFrame, cfg: ScoringConfig | None = None
) -> DataFrame:
    """The cascade, tuned for minimum per-pair traffic on BOTH sides of
    the Arrow boundary (per-pair hash-join probes and Arrow transfer
    were the two measured non-scaling components at high core counts):

      1. THREE hash joins total attach the features: left narrow
         (name + unhexed sha), right narrow + right token arrays in one
         join (arrays ride the linear features build side, never a
         pair-row exchange), then — after ``_ship`` is computable —
         left token arrays;
      2. ``exact_content`` compares 32-byte unhexed shas JVM-side (the
         digests never cross Arrow); ``names_equal`` pairs (every pair
         of an exact-key block) null BOTH name strings and skip the DP
         kernel entirely — their scores are constants (100 / 1 / 1);
      3. ``_ship``, a JVM levenshtein prefilter that PROVABLY contains
         the gate, nulls each side's token arrays before the next
         exchange / the Arrow boundary — only plausible pairs ever move
         array bytes, with no plan branching and no mid-stage persist;
      4. ONE mapInArrow hop computes (fuzz_key, jw, norm_lev) over the
         batch's distinct name pairs and exact jaccard for gate
         survivors; ids pass through zero-copy;
      5. the gate and is_dup are predicates over those scores.

    Output: (left_id, right_id, fuzz_key, jw (null when the cascade
    skipped it), norm_lev, jaccard (null when gated out),
    exact_content, gate_passed, is_dup).
    """
    import numpy as np
    import pyarrow as pa

    from music_dedupe_spark.functions.similarity import name_scores_arrays

    cfg = cfg or ScoringConfig()
    # --- join order is the bytes-per-pair optimization -------------------
    # The token-hash arrays are ~2 KB per side; shipping them for every
    # candidate pair would dominate Arrow traffic AND drag arrays
    # through pair-row exchanges under sort-merge joins at scale.
    # ``_ship`` is the Catalyst over-approximation of the gate: every
    # gate-passing pair satisfies
    #   levenshtein(l, r) <= ship_frac * (|l| + |r|)
    # — proof: fuzz > t needs indel <= (1-(t+.5)/100)*lensum and
    # lev <= indel; the jw branch needs norm_lev >= m i.e.
    # lev <= (1-m)*maxlen <= (1-m)*lensum (tests/test_properties.py
    # property-checks the implication). Exact-content pairs skip
    # jaccard entirely, so they don't ship arrays either.
    # shas ride the pair joins only for the exact_content equality test:
    # an 8-byte unhexed PREFIX cuts that traffic 8x vs 64-char hex
    # strings (round 4 went to 16 bytes; round 5 halved it again —
    # same-hour interleaved A/B on the 37.5 M-pair probe measured ~3%
    # at local[8], BENCH/ab_sha_r05.json, and the bytes win is what
    # matters on a bandwidth-bound cluster). Equality of 64-bit
    # prefixes is collision-safe for this purpose: a false
    # exact_content needs two distinct contents whose sha256 agree in
    # the first 64 bits among the CANDIDATE pairs — expected count
    # ~ n_pairs / 2^64 ≈ 5e-8 at 10^12 pairs, immaterial vs the
    # F1 >= 0.99 criterion (and vs the accepted fid-collision budget).
    sha_prefix = F.unhex(F.substring("content_sha256", 1, SHA_PREFIX_HEX_CHARS))
    narrow_feats = features.select(
        "file_id", "norm_name", sha_prefix.alias("content_sha256")
    )
    left = narrow_feats.select(
        F.col("file_id").alias("file_id_l"),
        F.col("norm_name").alias("norm_name_l"),
        F.col("content_sha256").alias("content_sha256_l"),
    )
    # the right side carries its token arrays in the SAME join: they
    # ride the (linear) features build/shuffle side, never a pair-row
    # exchange, so merging them costs nothing at scale and saves a
    # whole hash join per pair (the joins, not Arrow, were measured as
    # the worst-scaling component at high core counts)
    right = features.select(
        F.col("file_id").alias("file_id_r"),
        F.col("norm_name").alias("norm_name_r"),
        sha_prefix.alias("content_sha256_r"),
        F.col("token_hashes").alias("token_hashes_r"),
    )
    th_l = features.select(
        F.col("file_id").alias("left_id"), F.col("token_hashes").alias("token_hashes_l")
    )
    # containment bound derived from cfg so custom thresholds stay safe:
    # fuzz > t      ==> round(100*(1-indel/lensum)) > t ==> raw >= t+0.5
    #               ==> lev <= indel <= (1-(t+0.5)/100) * lensum
    # norm_lev >= m ==> lev <= (1-m) * maxlen <= (1-m) * lensum
    ship_frac = max(1.0 - (cfg.fuzz_threshold + 0.5) / 100.0, 1.0 - cfg.min_norm_lev)
    ship = (~F.col("exact_content")) & (
        F.levenshtein("norm_name_l", "norm_name_r")
        <= ship_frac * (F.length("norm_name_l") + F.length("norm_name_r"))
    )
    # Equal-name pairs — the dominant case inside exact-key blocks,
    # where EVERY pair of the block repeats the same string twice — have
    # known scores (fuzz=100, jw=1, norm_lev=1): flag them with one
    # boolean and null both name strings, so the hot blocks of a 10^12
    # corpus ship ~2 bytes of name per pair instead of the string pair
    # (the dictionary-encoding advice, done as an O(1) Catalyst branch
    # with no extra shuffle; the kernel skips them entirely).
    names_equal = F.col("norm_name_l") == F.col("norm_name_r")
    joined = (
        pairs.select("left_id", "right_id")
        .join(left, F.col("left_id") == F.col("file_id_l"))
        .join(right, F.col("right_id") == F.col("file_id_r"))
        .withColumn("exact_content", F.col("content_sha256_l") == F.col("content_sha256_r"))
        .withColumn("_ship", ship)
        .withColumn("names_equal", names_equal)
        .withColumn("norm_name_l", F.when(~names_equal, F.col("norm_name_l")))
        .withColumn("norm_name_r", F.when(~names_equal, F.col("norm_name_r")))
        # _ship is known here, so th_r is nulled BEFORE the next
        # exchange (the th_l join) — implausible pairs never move array
        # bytes through a shuffle or the Arrow boundary
        .withColumn("token_hashes_r", F.when(F.col("_ship"), F.col("token_hashes_r")))
        .select(
            "left_id", "right_id", "norm_name_l", "norm_name_r",
            "exact_content", "names_equal", "_ship", "token_hashes_r",
        )
        .join(th_l, "left_id")
        .withColumn("token_hashes_l", F.when(F.col("_ship"), F.col("token_hashes_l")))
        .select(
            "left_id",
            "right_id",
            "norm_name_l",
            "norm_name_r",
            "exact_content",
            "names_equal",
            "token_hashes_l",
            "token_hashes_r",
        )
    )

    fuzz_th = cfg.fuzz_threshold
    min_jw, min_lev = cfg.min_jaro_winkler, cfg.min_norm_lev

    def _list_views(arr: pa.Array):
        """Offsets + flat values of a list column as numpy views —
        survivors are sliced without materializing per-row arrays."""
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        off = arr.offsets.to_numpy(zero_copy_only=False)
        vals = arr.values.to_numpy(zero_copy_only=False)
        return off, vals

    def run(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            eq = rb.column(5).to_numpy(zero_copy_only=False).astype(bool)
            # equal-name pairs carry null names and known scores — only
            # the distinct-name remainder pays string transfer + the DP
            # kernel (see the names_equal branch in the join plan above)
            fuzz = np.full(rb.num_rows, 100, dtype=np.int32)
            jw = np.ones(rb.num_rows, dtype=np.float64)
            lev = np.ones(rb.num_rows, dtype=np.float64)
            ne = ~eq
            if ne.any():
                av = np.asarray(rb.column(2).to_pylist(), dtype=object)[ne]
                bv = np.asarray(rb.column(3).to_pylist(), dtype=object)[ne]
                fuzz[ne], jw[ne], lev[ne] = name_scores_arrays(
                    av, bv, jw_gate_lev=min(0.8, min_lev)
                )
            exact = rb.column(4).to_numpy(zero_copy_only=False).astype(bool)
            gate = exact | (fuzz > fuzz_th) | ((jw >= min_jw) & (lev >= min_lev))
            jac = np.full(rb.num_rows, np.nan)
            off_l, val_l = _list_views(rb.column(6))
            off_r, val_r = _list_views(rb.column(7))
            # the _ship prefilter must contain the gate (see join-order
            # comment in score_candidates): a gate-passing pair with a
            # nulled array would silently score an empty-set jaccard.
            # One vectorized check per batch keeps that invariant loud.
            nulls = np.asarray(rb.column(6).is_null()) | np.asarray(rb.column(7).is_null())
            bad = gate & ~exact & nulls
            if bad.any():
                raise AssertionError(
                    f"_ship prefilter dropped {int(bad.sum())} gate-passing pair(s)"
                )
            # exact Jaccard for ALL gate survivors in one vectorized pass
            # (zero per-row Python): gather the survivors' ragged hash
            # segments into two flat buffers, tag every value with its
            # survivor index, lexsort by (survivor, value), and count
            # adjacent equal (survivor, value) runs — each side's values
            # are DISTINCT within a row (token_hashes is
            # array_sort(array_distinct(...)) at ingest,
            # functions/text.py), so an adjacent duplicate means one
            # value from each side, i.e. exactly one intersection hit.
            surv = np.flatnonzero(gate & ~exact)
            if surv.size:
                llens = off_l[surv + 1] - off_l[surv]
                rlens = off_r[surv + 1] - off_r[surv]

                def gather(off, vals, lens):
                    tot = int(lens.sum())
                    if tot == 0:
                        return np.empty(0, dtype=vals.dtype)
                    out_start = np.cumsum(lens) - lens
                    idx = np.arange(tot) + np.repeat(off[surv] - out_start, lens)
                    return vals[idx]

                sidx = np.arange(surv.size)
                pid = np.concatenate([np.repeat(sidx, llens), np.repeat(sidx, rlens)])
                vals = np.concatenate(
                    [gather(off_l, val_l, llens), gather(off_r, val_r, rlens)]
                )
                order = np.lexsort((vals, pid))
                sv, sp = vals[order], pid[order]
                dup = (sv[1:] == sv[:-1]) & (sp[1:] == sp[:-1])
                inter = np.bincount(sp[1:][dup], minlength=surv.size)
                denom = llens + rlens - inter
                # denom == 0 only when both token sets are empty: defined
                # as jaccard 1.0 (identical empty sets)
                jac[surv] = np.where(
                    denom > 0, inter / np.maximum(denom, 1), 1.0
                )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),  # left_id: zero-copy pass-through
                    rb.column(1),  # right_id
                    pa.array(fuzz, type=pa.int32()),
                    pa.array(jw),
                    pa.array(lev),
                    pa.array(jac),  # pyarrow maps NaN -> NaN, nulled below
                    pa.array(exact),
                    pa.array(gate),
                ],
                names=[
                    "left_id",
                    "right_id",
                    "fuzz_key",
                    "jw",
                    "norm_lev",
                    "jaccard",
                    "exact_content",
                    "gate_passed",
                ],
            )

    scored = joined.mapInArrow(run, schema=_kernel_schema(dict(pairs.dtypes)["left_id"]))
    # NaN marks "gated out" (jaccard: gate not passed; jw: cascade skipped
    # it because norm_lev < 0.8); normalize to NULL (Spark orders NaN as
    # the LARGEST double — a raw NaN would pass >= thresholds downstream).
    # is_dup is then Catalyst — the one decision-rule implementation.
    # Equivalence with the old in-kernel numpy rule: jaccard is non-NULL
    # only where the gate passed, so the explicit `gate &` factor is
    # redundant; a NULL score fails every comparison exactly as NaN
    # failed the numpy >= checks.
    scored = scored.withColumn(
        "jaccard", F.when(F.isnan("jaccard"), F.lit(None)).otherwise(F.col("jaccard"))
    ).withColumn("jw", F.when(F.isnan("jw"), F.lit(None)).otherwise(F.col("jw")))
    return scored.withColumn("is_dup", F.coalesce(duplicate_decision(cfg), F.lit(False)))


def matched_pairs(scored: DataFrame) -> DataFrame:
    """The edge list for clustering: confirmed-duplicate pairs only."""
    return scored.filter(F.col("is_dup")).select("left_id", "right_id")
