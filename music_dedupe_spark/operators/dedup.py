"""Deduplication operator suite over the ``documents`` corpus — the
training-data-pipeline view of the engine's core blocking/scoring
machinery: exact, n-gram Jaccard, MinHash-LSH, SimHash, embedding
cosine. Exact + n-gram have DuckDB oracles; the sketch-based ones are
registered rows-only (non-SQL-expressible), their correctness is
covered by unit tests against brute-force Python.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from music_dedupe_spark.queries import _local_df, _t, register
from music_dedupe_spark.session import cache_scope, persist


@register(
    "dedup_exact",
    """SELECT sha256(text) AS fp, count(*) AS n_copies,
              min(doc_id) AS keeper_doc
       FROM documents GROUP BY sha256(text)
       HAVING count(*) > 1 ORDER BY fp""",
)
def dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy on content digest; groups >1 are
    duplicate sets, keeper = min id (deterministic survivor). Scales as
    one shuffle on the digest; hot digests are single groups, never
    pair-exploded."""
    return (
        _t(spark, sf, "documents")
        .groupBy(F.sha2(F.col("text"), 256).alias("fp"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc"))
        .filter(F.col("n_copies") > 1)
        .orderBy("fp")
    )


#: Default document-frequency cap for the shingle self-join: a shingle
#: present in more than this many documents of a (lang, source) block is
#: dropped before pairing. Without the cut, stop-shingles (" th", "ing")
#: appear in nearly every doc of a block and the equi-join is O(n²) per
#: block per hot shingle — the standard DF-cut / prefix-filter for set
#: similarity joins bounds each shingle's contribution to cap² pairs.
NGRAM_DF_CAP = 100


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.4,
    df_cap: int | None = NGRAM_DF_CAP,
) -> DataFrame:
    """Character-k-gram Jaccard near-dup pairs, blocked by (lang, source)
    — set intersection via a shingle equi-join, entirely JVM-side
    (explode + join + agg; zero Python).

    ``df_cap`` is the scale guard: per-block document frequency is
    computed per shingle (one map-side-combining groupBy), shingles
    hotter than the cap are anti-joined away (broadcast — the hot list
    is tiny by construction), and Jaccard is computed over the filtered
    shingle universe on BOTH numerator and denominator, so it remains a
    true Jaccard of the kept sets. Pass ``df_cap=None`` to disable
    (test/small-data only).

    Input: DataFrame with (doc_id, text, lang, source).
    Output: (left_doc, right_doc, jaccard) with jaccard >= threshold.
    """
    # join key = one 64-bit hash of (block key, shingle): a single long
    # shuffles/compares ~10x cheaper than (lang, source, k-char string);
    # collisions are ~n^2/2^64 — irrelevant to the counts (and the DuckDB
    # parity test would catch one).
    shingles = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))),
                    lambda i: F.col("text").substr(i, F.lit(k)),
                )
            )
        ).alias("sh"),
        F.col("lang"),
        F.col("source"),
    ).select("doc_id", F.xxhash64("lang", "source", "sh").alias("shk"))
    # the shingle explode is consumed by up to 4 branches (DF counts,
    # the anti-join, per-doc sizes, and both join sides); without a
    # persist each branch re-explodes every document. MEMORY_AND_DISK:
    # ~10x the text volume, spills to local disk at scale — the standard
    # space/time trade for set-similarity joins (recompute instead by
    # dropping the persist if local disk is the scarcer resource). Both
    # shingle caches belong to the caller's cache_scope.
    shingles = persist(shingles)
    if df_cap is not None:
        # shingles are distinct per doc (array_distinct), so count(*) per
        # shk == per-block document frequency. groupBy (not a window):
        # partial aggregation absorbs the hot key map-side, no straggler.
        hot = (
            shingles.groupBy("shk")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shk")
        )
        shingles = shingles.join(F.broadcast(hot), "shk", "left_anti")
        # persist the POST-cut shingles too: three branches consume them
        # (per-doc sizes + both sides of the intersection join), and the
        # plan otherwise repeats the hot-aggregate + anti-join pass once
        # per branch — 2-3 redundant full passes over the shingle set
        # (guide §2.3: don't recompute what you can keep). kept ⊆ the
        # pre-cut cache, so the added footprint is bounded by it.
        shingles = persist(shingles)
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingles.select(F.col("doc_id").alias("left_doc"), "shk")
    b = shingles.select(F.col("doc_id").alias("right_doc"), "shk")
    inter = (
        a.join(b, "shk")
        .filter(F.col("left_doc") < F.col("right_doc"))
        .groupBy("left_doc", "right_doc")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("left_doc"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("right_doc"), F.col("n").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sa, "left_doc")
        .join(sb, "right_doc")
        .filter(jac >= threshold)
        .select("left_doc", "right_doc", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    f"""WITH shingles AS (
         SELECT DISTINCT d.doc_id, d.lang, d.source,
                substring(d.text, g.i, 3) AS sh
         FROM documents d,
              LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 2, 1))) AS i) g
       ),
       kept AS (
         SELECT s.* FROM shingles s
         JOIN (SELECT lang, source, sh FROM shingles
               GROUP BY lang, source, sh
               HAVING count(*) <= {NGRAM_DF_CAP}) ok
           ON s.lang = ok.lang AND s.source = ok.source AND s.sh = ok.sh
       ),
       pair_inter AS (
         SELECT a.doc_id AS left_doc, b.doc_id AS right_doc, count(*) AS inter
         FROM kept a JOIN kept b
           ON a.sh = b.sh AND a.lang = b.lang AND a.source = b.source
          AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
       ),
       sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id)
       SELECT p.left_doc, p.right_doc,
              round(CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter), 4) AS jaccard
       FROM pair_inter p JOIN sizes sa ON sa.doc_id = p.left_doc
                         JOIN sizes sb ON sb.doc_id = p.right_doc
       WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.4
       ORDER BY left_doc, right_doc""",
)
def dedup_ngram_jaccard(spark, sf):
    """Character-3-gram Jaccard near-dup detection with a document-
    frequency cut (see ngram_jaccard_pairs) — the oracle SQL applies the
    identical cut, so parity holds even when the cap bites. At scale the
    shingle join is the textbook document-similarity join; the
    (lang, source) block plus the DF cut bound the candidate space.

    The sorted pairs are materialized once with an eager
    ``localCheckpoint`` (the ``dedup_minhash_lsh`` caveat applies), so
    the shingle caches are released before the entry returns."""
    d = _t(spark, sf, "documents")
    with cache_scope():
        return ngram_jaccard_pairs(d).orderBy("left_doc", "right_doc").localCheckpoint()


#: Candidate-recall floor the self-asserting LSH entry enforces against
#: the high-similarity truth pairs the value-checked n-gram oracle
#: defines (5-gram Jaccard >= 0.7). The 128-perm/32-band s-curve puts
#: collision probability at ~0.9998 for J=0.7, so healthy recall is
#: ~1.0; the floor guards REGRESSIONS (a broken bander proposes ~none
#: of them), not tuning noise.
LSH_RECALL_FLOOR = 0.6
LSH_TRUTH_JACCARD = 0.7
#: ~How many CANARY documents the self-assert plants: a deterministic
#: hash-sample of real docs is copied with the last ~3% of characters
#: cut (5-gram Jaccard ≈ 0.97 ≫ the s-curve knee) under "~"-prefixed
#: ids, and a SEPARATE bounded LSH pass over picked-originals ∪ copies
#: must re-find >= LSH_RECALL_FLOOR of the (original, copy) pairs.
#: Unlike an organic n-gram truth pass, the planted truth costs
#: O(canaries) at ANY corpus size (no quadratic shingle join) and is
#: never empty or tiny — at sf0.1 the organic J>=0.7 truth is 4 pairs,
#: too few for a stable floor. The canary pass is ISOLATED from the
#: real pass (see _lsh_canaries): planted twins unioned into the real
#: corpus distort its band buckets — they can steal an over-cap
#: bucket's min-id star root (ids that sort before real ones) or tip a
#: near-cap bucket over band_cap (all-pairs output silently collapses
#: to a star) — both measured as real candidate pairs lost.
LSH_CANARY_COUNT = 250
#: The organic n-gram truth pass (recall vs REAL high-similarity pairs,
#: the round-4 design) still runs when the corpus text volume is small
#: enough that its shingle join is cheap — in particular at the
#: driver's sf0.01 correctness sweep (~150k chars). Above this many
#: total characters only the bounded canary assert runs: the organic
#: pass costs about as much as the whole dedup_ngram_jaccard entry
#: (measured ~8 s at sf0.1's 1.5M chars — it IS that join at k=5).
LSH_ORGANIC_TRUTH_MAX_CHARS = 500_000
#: Canary id marker: sorts after every stringified non-negative long.
CANARY_PREFIX = "~"
#: The one driver thread every canary pass runs on. A pool per call
#: would start a new Python thread per call, and in PySpark's
#: pinned-thread mode each one leaves its paired JVM thread behind.
_CANARY_POOL = ThreadPoolExecutor(max_workers=1, thread_name_prefix="lsh-canary")


def _lsh_canaries(d: DataFrame) -> tuple[DataFrame, list[int], int, int]:
    """Deterministic planted near-duplicates for the LSH self-assert:
    ~LSH_CANARY_COUNT hash-picked docs copied with the last ~3% of
    characters cut, under id ``~<doc_id>`` ("~" = 0x7E sorts after
    every digit, so canary ids are disjoint from real ids and never win
    a min-id star root within the canary pass). ``mod`` has a floor of
    2 so a small corpus plants at most half its docs.
    Returns (canary-pass input: picked ORIGINALS ∪ their truncated
    copies in (file_id, content) shape, picked ids, n_docs,
    total_chars). The pass input is
    self-contained on purpose: the canary check runs as its OWN bounded
    LSH invocation, never unioned into the real corpus — planted twins
    mixed into real band buckets distort the actual candidate output
    (they can push a near-cap bucket over band_cap, silently converting
    its all-pairs output to a star; measured −7k real pairs on a
    hot-block fixture, pinned by
    tests/test_dedup_ops.py::test_lsh_canaries_side_effect_free...)."""
    # ONE driver job picks and collects the O(canaries) docs (a few
    # hundred rows at ANY corpus size — the same documented-small
    # collect as the planted-id list) AND carries the corpus stats
    # (count, total chars) on every picked row via a broadcast scalar
    # aggregate: the separate stats job the entry used to run first was
    # pure job-chain latency — same two corpus scans either way, one
    # driver round-trip instead of two. cast(_n / COUNT as long)
    # truncates toward zero == Python's // for non-negative counts, so
    # the pick is bit-identical to the old max(2, n_docs // COUNT) mod.
    stats = d.agg(F.count("*").alias("_n"), F.sum(F.length("text")).alias("_chars"))
    mod_col = F.greatest(
        F.lit(2), (F.col("_n") / F.lit(LSH_CANARY_COUNT)).cast("long")
    )
    rows = (
        d.crossJoin(F.broadcast(stats))
        .filter(F.pmod(F.xxhash64(F.col("doc_id").cast("string")), mod_col) == 0)
        .select(F.col("doc_id"), F.col("text"), F.col("_n"), F.col("_chars"))
        .collect()
    )
    if rows:
        n_docs = int(rows[0]["_n"])
        total_chars = int(rows[0]["_chars"] or 0)
    else:
        # nothing picked (empty or near-empty corpus): fall back to the
        # plain stats job so the organic-truth gate still sees real stats
        st = stats.collect()[0]
        n_docs = int(st["_n"])
        total_chars = int(st["_chars"] or 0)
    planted = [r["doc_id"] for r in rows]
    data = []
    for r in rows:
        did, text = str(r["doc_id"]), r["text"] or ""
        # Python slice == SQL substring(text, 1, greatest(int(len*0.97), 5))
        data.append((did, text))
        data.append((CANARY_PREFIX + did, text[: max(int(len(text) * 0.97), 5)]))
    # one-slice local frame (not createDataFrame(list): that splits into
    # defaultParallelism pickled slices and every canary-pass stage pays
    # one Python-worker round-trip per slice — measured ~5.5 s of pure
    # overhead per materialization at 32 slices; see queries._local_df)
    canary_input = _local_df(
        d.sparkSession, data, "file_id string, content string"
    )
    return canary_input, planted, n_docs, total_chars


@register("dedup_minhash_lsh", None)  # sketch-based: rows-only driver check (self-asserting)
def dedup_minhash_lsh(spark, sf):
    """MinHash-LSH near-dup candidates on documents (the scale path for
    dedup_ngram_jaccard: signatures are fixed-width regardless of doc
    size, banding makes the join linear in candidates). The driver has
    no SQL oracle for the seeded sketch, so the entry SELF-ASSERTS two
    ways instead of passing as "rows >= 0":

    - always: ~LSH_CANARY_COUNT planted (original, truncated-copy)
      pairs at Jaccard ≈ 0.97 must be re-found at >= LSH_RECALL_FLOOR
      by a SEPARATE bounded LSH pass over just the planted set —
      O(canaries) cost at ANY corpus size, truth never empty, and zero
      influence on the real corpus pass (unioning twins into the real
      input can tip near-cap band buckets over band_cap and silently
      star-collapse their all-pairs output);
    - on small corpora (<= LSH_ORGANIC_TRUTH_MAX_CHARS total text,
      which includes the driver's sf0.01 sweep): candidate recall vs
      the ORGANIC pairs with 5-gram Jaccard >= LSH_TRUTH_JACCARD,
      computed by the same machinery the value-checked
      dedup_ngram_jaccard oracle validates. (Its shingle join is
      quadratic per block, so it is gated, not default-on — and at
      sf0.1 the organic truth is 4 pairs, too few for a stable floor.)

    A banding regression raises loudly either way
    (tests/test_dedup_ops.py pins it with an injected regression).
    Canary rows never appear in the returned candidates.

    Driver-entry discipline: the canonicalized candidate set is
    materialized ONCE via an eager localCheckpoint and returned as that
    plan leaf — the driver's collect then fetches blocks instead of
    re-running the banding, a persist would leak per invocation, and
    (unlike the old collect-and-reupload) no pair ever round-trips
    through driver pickle before the driver asks for it. The SCALE
    surface is ``blocking.minhash_lsh_pairs``, which stays fully
    distributed; this entry is its self-asserting demo at driver
    corpus sizes.

    Caveat: a ``localCheckpoint`` lives in executor storage, not on a
    reliable store, so the returned frame's blocks are lost if an
    executor dies and it cannot be recomputed from lineage; a caller on
    a cluster that must survive executor loss should write it out."""
    d = _t(spark, sf, "documents")
    from music_dedupe_spark.operators.blocking import minhash_lsh_pairs

    canary_input, planted, n_docs, total_chars = _lsh_canaries(d)

    def _canary_check() -> None:
        # the canary check: its OWN bounded LSH pass (O(canaries) docs,
        # same signature/banding code path the real pass runs) — every
        # (original, truncated-copy) pair is J≈0.97, far above the
        # s-curve knee, so a healthy bander re-finds ~all of them
        # band_cap is DISABLED for this pass (input is O(canaries), so
        # all-pairs in a hot bucket is at most ~125k rows): on a heavily
        # duplicated corpus the hash-pick can land >cap identical
        # originals in one bucket, and a star-collapse there would
        # suppress (orig_i, ~orig_i) for every non-root original —
        # failing the floor with a perfectly healthy bander. The pass
        # opens its own cache scope: it runs on the canary thread, which
        # never sees the real pass's scope
        with cache_scope():
            cpairs = minhash_lsh_pairs(
                canary_input,
                shingle_k=5,
                band_cap=2 * len(planted) + 1,
            )
            # emitted pairs are canonical in string order and every real
            # id sorts before "~": (orig, ~orig) is the canonical form
            found = {
                (r["left_id"], r["right_id"])
                for r in cpairs.select("left_id", "right_id").collect()
            }
        truth_c = {(str(o), f"{CANARY_PREFIX}{o}") for o in planted}
        recall_c = len(truth_c & found) / len(truth_c)
        if recall_c < LSH_RECALL_FLOOR:
            raise RuntimeError(
                f"LSH candidate recall {recall_c:.3f} fell below the "
                f"{LSH_RECALL_FLOOR} floor vs {len(truth_c)} planted "
                f"J≈0.97 canary pairs ({len(truth_c & found)} found) — "
                f"banding regressed"
            )

    # the REAL pass: the actual corpus only — canaries never touch it.
    # The canary check is an INDEPENDENT job chain over a ~500-row local
    # frame: submit it to the canary thread so its fixed
    # stage-scheduling cost overlaps the real pass instead of being paid
    # serially before it (guide §2.6 — actions are only sequential
    # because the driver calls them sequentially; the two passes share
    # no plan state, and each persists/unpersists only its own caches).
    # The future's result() below re-raises a canary failure before the
    # entry can return, so the self-assert contract is unchanged.
    # (round 6 measured rejection: a parallelism floor — repartition the
    # one-file scan to 32 before the signature kernel — was tried here
    # and REVERTED: the ~2 s serial kernel it parallelizes is cheaper
    # than the 32-way task fan-out it forces on every downstream banding
    # stage at this corpus size; entry went 12-16 s -> 19-32 s.)
    canary_future = _CANARY_POOL.submit(_canary_check) if planted else None
    try:
        # canonicalize to NUMERIC (left < right) pair order JVM-side and
        # materialize ONCE with an eager localCheckpoint (round 6; the
        # old collect → python set → sorted → re-upload round-tripped
        # every pair through driver pickle twice before the driver's own
        # collect — ~4 s at sf0.1's 351k pairs). String-canonical pairs
        # map 1:1 onto numeric-canonical pairs, so the rows are the
        # sorted distinct set exactly as before; the checkpoint is a
        # plan leaf, so the scope can release the banding cache, and,
        # unlike a persist, its blocks free with the DataFrame instead
        # of pinning the session.
        with cache_scope():
            pairs = minhash_lsh_pairs(
                d.select(
                    F.col("doc_id").cast("string").alias("file_id"),
                    F.col("text").alias("content"),
                ),
                shingle_k=5,
            )
            out = (
                pairs.select(
                    F.least(
                        F.col("left_id").cast("long"), F.col("right_id").cast("long")
                    ).alias("left_doc"),
                    F.greatest(
                        F.col("left_id").cast("long"), F.col("right_id").cast("long")
                    ).alias("right_doc"),
                )
                .dropDuplicates(["left_doc", "right_doc"])
                .orderBy("left_doc", "right_doc")
                .localCheckpoint()
            )
        if canary_future is not None:
            canary_future.result()  # re-raise a canary-recall failure
        if total_chars <= LSH_ORGANIC_TRUTH_MAX_CHARS:
            # the candidate set is needed driver-side only for this
            # gated recall check — and the gate caps the corpus (and so
            # the collect) small
            cand = {(r["left_doc"], r["right_doc"]) for r in out.collect()}
            with cache_scope():
                truth_rows = (
                    ngram_jaccard_pairs(d, k=5, threshold=LSH_TRUTH_JACCARD)
                    .select("left_doc", "right_doc")
                    .collect()
                )
            if truth_rows:
                # truth pairs are canonical in doc_id NUMERIC order —
                # the same normalization as ``out``
                truth = {(r["left_doc"], r["right_doc"]) for r in truth_rows}
                recall = len(truth & cand) / len(truth)
                if recall < LSH_RECALL_FLOOR:
                    raise RuntimeError(
                        f"LSH candidate recall {recall:.3f} fell below the "
                        f"{LSH_RECALL_FLOOR} floor vs J>={LSH_TRUTH_JACCARD} "
                        f"organic truth pairs ({len(truth & cand)}/{len(truth)})"
                        f" — banding regressed"
                    )
    finally:
        # on an earlier raise, drain the already-submitted canary check
        # so no job of this call outlives it
        if canary_future is not None:
            wait([canary_future])
    return out


import re

_WS_ASCII = re.compile(r"\s+", re.ASCII)


def simhash_tokens(text: str) -> list[str]:
    """Tokenize for SimHash exactly as the DuckDB oracle does: split on
    ASCII whitespace runs (RE2 ``\\s+``) after lower(). Python's bare
    ``str.split()`` also splits on UNICODE whitespace (NBSP, U+2028,
    U+0085 ...), which RE2's ``\\s`` does not — one NBSP in a future
    corpus would silently break the value-check, so the kernel pins the
    ASCII semantics. (``lower()`` parity: both sides do Unicode simple
    case folding; the fixtures are ASCII.)"""
    return [t for t in _WS_ASCII.split((text or "").lower()) if t]


def _md5_token_hash(token: str) -> int:
    """64-bit token hash: first 8 bytes of md5, little-endian — exactly
    DuckDB's ``md5_number_upper``, so the whole SimHash pipeline is
    replayable as oracle SQL (the previous blake2b hash was not)."""
    import hashlib

    return int.from_bytes(hashlib.md5(token.encode()).digest()[:8], "little")


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over md5 token hashes (per-doc reference version —
    the unit-test oracle for the batched kernel below)."""
    if not tokens:
        return 0
    hs = np.array([_md5_token_hash(t) for t in tokens], dtype=np.uint64)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    sig = np.uint64(0)
    for b in np.nonzero(votes > 0)[0]:
        sig |= np.uint64(1) << np.uint64(b)
    return int(sig)


def simhash_batch(texts: "pd.Series") -> tuple[np.ndarray, np.ndarray]:
    """Vectorized SimHash over a batch of texts. Returns (sig int64
    view, n_tokens int64).

    Hashing is per DISTINCT token of the batch (np.unique + one md5 per
    unique token, indexed back through the inverse permutation), not per
    token occurrence — the corpus token distribution is Zipfian, so this
    removes almost all of the per-element Python hashing the old per-doc
    loop paid. Bit voting is chunked numpy (add.reduceat over per-doc
    segments), ~50k tokens per chunk to bound the (tokens x 64) int8
    intermediate."""
    tok_lists = [simhash_tokens(t) for t in texts]
    n_tok = np.array([len(ts) for ts in tok_lists], dtype=np.int64)
    n_docs = len(tok_lists)
    sigs = np.zeros(n_docs, dtype=np.uint64)
    if n_tok.sum() == 0:
        return sigs.astype(np.int64), n_tok
    flat = np.array([tok for ts in tok_lists for tok in ts], dtype=object)
    uniq, inv = np.unique(flat, return_inverse=True)
    uh = np.fromiter(
        (_md5_token_hash(u) for u in uniq), dtype=np.uint64, count=len(uniq)
    )
    h = uh[inv]
    bit_idx = np.arange(64, dtype=np.uint64)
    # chunk docs so the (chunk_tokens x 64) sign matrix stays ~3 MB
    doc_ids_nonempty = np.flatnonzero(n_tok)
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_tok, out=starts[1:])
    chunk: list[int] = []
    chunk_tok = 0

    def flush():
        nonlocal chunk, chunk_tok
        if not chunk:
            return
        segs = [h[starts[i] : starts[i + 1]] for i in chunk]
        offsets = np.zeros(len(segs), dtype=np.int64)
        np.cumsum([len(s) for s in segs[:-1]], out=offsets[1:])
        hc = np.concatenate(segs)
        signs = (((hc[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int8) * 2 - 1)
        votes = np.add.reduceat(signs.astype(np.int32), offsets, axis=0)
        packed = ((votes > 0).astype(np.uint64) << bit_idx[None, :]).sum(axis=1)
        sigs[np.asarray(chunk)] = packed
        chunk, chunk_tok = [], 0

    for i in doc_ids_nonempty:
        chunk.append(int(i))
        chunk_tok += int(n_tok[i])
        if chunk_tok >= 50_000:
            flush()
    flush()
    return sigs.astype(np.int64), n_tok


#: SimHash near-dup Hamming threshold; 4x16-bit banding is complete for
#: d <= 3 (pigeonhole: 3 differing bits cannot touch all 4 bands).
SIMHASH_MAX_HAMMING = 3


@register(
    "dedup_simhash",
    r"""WITH toks AS (
         SELECT doc_id,
                unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                   x -> x <> '')) AS tok
         FROM documents
       ),
       th AS (SELECT doc_id, md5_number_upper(tok) AS h FROM toks),
       bits AS (
         SELECT doc_id, b,
                sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bs
         GROUP BY doc_id, b
       ),
       ham AS (
         SELECT a.doc_id AS left_doc, c.doc_id AS right_doc,
                sum(CASE WHEN (a.vote > 0) <> (c.vote > 0) THEN 1 ELSE 0 END) AS hamming
         FROM bits a JOIN bits c ON a.b = c.b AND a.doc_id < c.doc_id
         GROUP BY a.doc_id, c.doc_id
       )
       SELECT left_doc, right_doc, CAST(hamming AS INTEGER) AS hamming
       FROM ham WHERE hamming <= 3 ORDER BY left_doc, right_doc""",
)
def dedup_simhash(spark, sf):
    """SimHash fingerprints + near-dup pairs at Hamming distance <= 3,
    banded on 16-bit chunks (a hash with d<=3 differing bits shares at
    least one of 4 16-bit bands — standard simhash blocking), so the
    join is an equi-join, never a cross product. The md5-derived token
    hash makes the whole pipeline DuckDB-replayable: the oracle computes
    the same per-bit votes and checks ALL pairs at Hamming <= 3, which
    banding reproduces exactly (completeness at d<=3), so this is a
    value-checked query, not rows-only. Token-empty documents are
    excluded on both sides (they carry no content signal; sig=0 pairs of
    unrelated empty docs would be noise)."""
    d = _t(spark, sf, "documents")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sig, n_tok = simhash_batch(pdf["text"])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sig, "n_tokens": n_tok})

    sigs = (
        d.select("doc_id", "text")
        .mapInPandas(compute, "doc_id long, sig long, n_tokens long")
        .filter(F.col("n_tokens") > 0)
    )
    banded = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(*[(F.shiftrightunsigned(F.col("sig"), k * 16).bitwiseAND(F.lit(0xFFFF))) for k in range(4)])
        ).alias("band_idx", "band_val"),
    )
    a = banded.select(F.col("doc_id").alias("left_doc"), F.col("sig").alias("sig_l"), "band_idx", "band_val")
    b = banded.select(F.col("doc_id").alias("right_doc"), F.col("sig").alias("sig_r"), "band_idx", "band_val")
    pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("left_doc") < F.col("right_doc"))
        .dropDuplicates(["left_doc", "right_doc"])
        .withColumn(
            "hamming", F.bit_count(F.col("sig_l").bitwiseXOR(F.col("sig_r"))).cast("int")
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    return pairs.select("left_doc", "right_doc", "hamming").orderBy("left_doc", "right_doc")


@register(
    "dedup_embedding_cosine",
    """SELECT a.vec_id AS left_vec, b.vec_id AS right_vec,
              round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos_sim
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE a.vec_id < 50
         AND list_cosine_similarity(a.embedding, b.embedding) >= 0.95
       ORDER BY left_vec, right_vec""",
)
def dedup_embedding_cosine(spark, sf):
    """Embedding-cosine near-dup: pairs within the same label block with
    cosine >= 0.95. The dot/norm math is native (F.aggregate/F.zip_with
    — no UDF); the label equi-join is the block that bounds pairs."""
    e = _t(spark, sf, "embeddings")
    a = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("left_vec"), F.col("label"), F.col("embedding").alias("va")
    )
    b = e.select(F.col("vec_id").alias("right_vec"), F.col("label"), F.col("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot / (norm(F.col("va")) * norm(F.col("vb")))
    return (
        a.join(b, "label")
        .filter(F.col("left_vec") < F.col("right_vec"))
        .withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= 0.95)
        .select("left_vec", "right_vec", F.round("cos_sim_raw", 4).alias("cos_sim"))
        .orderBy("left_vec", "right_vec")
    )
