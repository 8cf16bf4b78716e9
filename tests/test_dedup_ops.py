"""Unit tests for the dedup operator kernels (simhash vectorization +
oracle-hash parity). The end-to-end Spark-vs-DuckDB value check for
dedup_simhash runs in test_entry_contract.py; these pin the kernel
invariants the oracle relies on."""

import hashlib

import numpy as np
import pandas as pd

from music_dedupe_spark.operators.dedup import (
    _md5_token_hash,
    simhash64,
    simhash_batch,
    simhash_tokens,
)
from music_dedupe_spark.session import cache_scope


def test_md5_token_hash_matches_duckdb_md5_number_upper():
    """DuckDB's md5_number_upper(t) is the first 8 md5 bytes read
    little-endian; the kernel must produce bit-identical hashes or the
    oracle SQL diverges."""
    import duckdb

    toks = ["hello", "", "key", "agg row", "doc_00042", "ß"]
    con = duckdb.connect()
    for t in toks:
        (got,) = con.execute("SELECT md5_number_upper(?)", [t]).fetchone()
        assert _md5_token_hash(t) == got, t


def test_simhash_batch_matches_per_doc_reference():
    rng = np.random.RandomState(7)
    vocab = [f"tok{i}" for i in range(50)]
    texts = []
    for _ in range(40):
        n = rng.randint(0, 30)
        texts.append(" ".join(rng.choice(vocab, size=n)))
    texts += ["", "   ", "single", "a a a a b"]
    sigs, n_tok = simhash_batch(pd.Series(texts))
    for t, s, n in zip(texts, sigs, n_tok):
        toks = simhash_tokens(t)
        assert n == len(toks)
        assert int(np.uint64(s)) == simhash64(toks), t


def test_simhash_batch_chunking_boundary():
    """Docs spanning the 50k-token flush boundary must get the same
    signatures as unchunked processing (reduceat segment bookkeeping)."""
    texts = ["alpha beta gamma " * 20000, "alpha beta delta " * 3, "x y z"]
    sigs, _ = simhash_batch(pd.Series(texts))
    for t, s in zip(texts, sigs):
        assert int(np.uint64(s)) == simhash64(simhash_tokens(t))


def test_simhash_tokens_matches_duckdb_regexp_split():
    """The kernel tokenizer must agree with the oracle's RE2 '\\s+' on
    UNICODE whitespace too: python str.split() splits on NBSP/U+2028
    etc., RE2 does not — the kernel pins the RE2 semantics."""
    import duckdb

    con = duckdb.connect()
    cases = [
        "a\xa0b",          # NBSP: ONE token under RE2
        "a\u2028b c",     # LINE SEPARATOR
        "a\x85b",          # NEL
        "  a\tb\r\nc  ",   # plain ASCII whitespace
        "",
    ]
    for s in cases:
        (want,) = con.execute(
            r"SELECT list_filter(regexp_split_to_array(lower(?), '\s+'), x -> x <> '')",
            [s],
        ).fetchone()
        assert simhash_tokens(s) == want, repr(s)


def test_simhash_duplicate_tokens_vote_multiply():
    """SimHash weights votes by occurrence — repeated tokens are NOT
    deduplicated before voting (only the hashing is factorized)."""
    a = simhash64(["x", "y"])
    b = simhash64(["x", "x", "x", "y"])
    # with 3x 'x' votes, ties break toward x's bits: must equal hashing x alone
    if a != b:
        assert b == simhash64(["x"])


SF = "/root/testdata/sf0.01"


def test_lsh_truth_set_nonempty(spark):
    """Guards the dedup_minhash_lsh self-asserts from going vacuous at
    the driver's sf0.01 sweep: the corpus must contain at least one
    organic 5-gram-Jaccard >= 0.7 truth pair AND sit under the
    organic-truth char gate (so that check actually runs there), and
    the canary planter must pick a nonempty sample."""
    import pyspark.sql.functions as F

    from music_dedupe_spark.operators.dedup import (
        LSH_ORGANIC_TRUTH_MAX_CHARS,
        LSH_TRUTH_JACCARD,
        _lsh_canaries,
        ngram_jaccard_pairs,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    stats = d.agg(
        F.count("*").alias("n"), F.sum(F.length("text")).alias("chars")
    ).collect()[0]
    assert stats["chars"] <= LSH_ORGANIC_TRUTH_MAX_CHARS
    _, planted, n_docs, total_chars = _lsh_canaries(d)
    assert len(planted) > 0
    # the merged pick+stats job must report the same corpus stats the
    # separate agg sees (round-6: one driver job instead of two)
    assert n_docs == stats["n"]
    assert total_chars == stats["chars"]
    with cache_scope():
        n = ngram_jaccard_pairs(d, k=5, threshold=LSH_TRUTH_JACCARD).count()
    assert n > 0

def test_lsh_canaries_side_effect_free_on_hot_buckets(spark, tmp_path):
    """Planted canaries must not perturb the returned candidate set —
    the canary check runs as its OWN bounded LSH pass, never unioned
    into the real corpus. Unioning distorts real band buckets two ways
    (both observed before the isolation): a canary id sorting before
    real ids steals an over-cap bucket's star root (pre-fix negative-id
    scheme: ~1k real pairs lost at sf0.1), and twins tip a near-cap
    bucket over band_cap, silently collapsing its all-pairs output to a
    star (measured −7k pairs on an earlier draft of this fixture).
    Corpus: a 210-identical-doc block (> band_cap=200 — the star path
    runs in the real pass) plus 800 genuinely random docs, sized past
    LSH_ORGANIC_TRUTH_MAX_CHARS so the organic-truth pass (whose recall
    model assumes no over-cap truth block) is skipped. Assert the
    entry's output equals the canary-free operator result exactly."""
    import random

    import pyspark.sql.functions as F

    from music_dedupe_spark.operators.blocking import minhash_lsh_pairs
    from music_dedupe_spark.operators.dedup import (
        LSH_ORGANIC_TRUTH_MAX_CHARS,
        dedup_minhash_lsh,
    )

    hot = (
        "def handler(request):\n    return respond(request.payload, "
        "status=200)\n# shared boilerplate across generated services\n" * 6
    )

    def rand_text(i):
        rng = random.Random(i)
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(700))

    rows = [(i, hot, "py", "gen", len(hot)) for i in range(210)] + [
        (1000 + i, rand_text(i), "py", "gen", 700) for i in range(800)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    total_chars = d.agg(F.sum(F.length("text"))).collect()[0][0]
    assert total_chars > LSH_ORGANIC_TRUTH_MAX_CHARS
    sf = str(tmp_path / "hotsf")
    d.write.parquet(f"{sf}/documents.parquet")

    with cache_scope():
        pure = minhash_lsh_pairs(
            d.select(
                F.col("doc_id").cast("string").alias("file_id"),
                F.col("text").alias("content"),
            ),
            shingle_k=5,
        )
        want = {
            tuple(sorted((int(r["left_id"]), int(r["right_id"]))))
            for r in pure.select("left_id", "right_id").collect()
        }
    # the identical-doc block went through the star path — the
    # scenario under test
    assert any(u < 210 and v < 210 for u, v in want)

    got = {
        (r["left_doc"], r["right_doc"])
        for r in dedup_minhash_lsh(spark, sf).collect()
    }
    assert got == want


def test_lsh_dedup_entry_fails_loudly_on_banding_regression(spark, monkeypatch):
    """The driver's check for the seeded LSH entry is rows-only, so the
    query self-asserts candidate recall vs planted J≈0.97 canary pairs.
    Inject a banding regression (a bander that proposes no pairs) and
    the registered entry must RAISE instead of returning zero rows —
    the canary pass runs the same (monkeypatched) code path as the real
    pass, so a broken bander zeroes canary recall."""
    import pytest

    import music_dedupe_spark.operators.blocking as blocking
    import music_dedupe_spark.operators.dedup as dd

    def broken(df, **kw):
        return df.sparkSession.createDataFrame(
            [], "left_id string, right_id string, channel string"
        )

    monkeypatch.setattr(blocking, "minhash_lsh_pairs", broken)
    with pytest.raises(RuntimeError, match="recall"):
        dd.dedup_minhash_lsh(spark, SF)
