"""Blocking-channel invariants: pair hygiene, recall (FIXTURES.md §5.2),
and the block-size cap that bounds the quadratic pair explosion on hot
keys (north rule)."""

import pytest
from pyspark.sql import functions as F

from music_dedupe_spark.operators import blocking
from music_dedupe_spark.pipeline import PipelineConfig, generate_candidates, ingest


@pytest.fixture(scope="module")
def features(spark, files_df):
    f = ingest(files_df)
    f.cache()
    f.count()
    return f


@pytest.fixture(scope="module")
def candidates(spark, features):
    c = generate_candidates(features, PipelineConfig())
    c.cache()
    c.count()
    return c


def test_pair_hygiene(candidates):
    bad = candidates.filter(
        (F.col("left_id") >= F.col("right_id")) | F.col("left_id").isNull()
    ).count()
    assert bad == 0
    total = candidates.count()
    distinct = candidates.select("left_id", "right_id").distinct().count()
    assert total == distinct  # dedup across channels


def test_blocking_recall(candidates, labeled_pairs_df):
    """Every injected positive pair must be proposed by >= 1 channel OR
    be recoverable transitively. We assert the stronger per-cluster
    connectivity downstream (e2e test); here: every positive pair's two
    sides appear in the candidate graph connected at one hop or share a
    pair directly for >=99% of positives."""
    pos = labeled_pairs_df.filter(F.col("is_duplicate"))
    direct = pos.join(
        candidates.select("left_id", "right_id"), ["left_id", "right_id"], "left_semi"
    ).count()
    # transitive: both endpoints touched by some candidate edge
    nodes = (
        candidates.select(F.col("left_id").alias("id"))
        .unionAll(candidates.select(F.col("right_id").alias("id")))
        .distinct()
    )
    touched = (
        pos.join(nodes.withColumnRenamed("id", "left_id"), "left_id", "left_semi")
        .join(nodes.withColumnRenamed("id", "right_id"), "right_id", "left_semi")
        .count()
    )
    n_pos = pos.count()
    assert touched == n_pos, "a positive pair has an endpoint missing from all channels"
    assert direct / n_pos > 0.7  # most positives proposed directly


def test_exact_key_cap_bounds_pairs(spark):
    # a hot block of 500 identical keys must NOT produce C(500,2)=124750
    # pairs; with cap=64 the bound is size*cap + star
    rows = [("hotkey", f"id{i:05d}", f"sha{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "norm_name string, file_id string, content_sha256 string")
    cap = 64
    pairs = blocking.exact_key_pairs(df, cap=cap)
    n = pairs.count()
    assert n < 500 * cap + 500
    # connectivity preserved: star reaches every member
    nodes = (
        pairs.select(F.col("left_id").alias("id"))
        .unionAll(pairs.select(F.col("right_id").alias("id")))
        .distinct()
        .count()
    )
    assert nodes == 500


def test_content_sha_star_linear(spark):
    rows = [("k%d" % i, f"id{i:05d}", "SAME") for i in range(300)]
    df = spark.createDataFrame(rows, "norm_name string, file_id string, content_sha256 string")
    pairs = blocking.content_sha_star(df)
    assert pairs.count() == 299  # star, not C(300,2)
    root = pairs.agg(F.min("left_id")).collect()[0][0]
    assert root == "id00000"


def test_minhash_lsh_detects_near_dups(spark):
    base = "def compute(values):\n    total = 0\n    for v in values:\n        total += v * 3\n    return total\n" * 3
    near = base.replace("total", "acc") + "# trailing comment\n"
    far = "SELECT * FROM orders WHERE o_orderkey > 100 GROUP BY o_custkey HAVING count(*) > 2" * 4
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)], "file_id string, content string"
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in blocking.minhash_lsh_pairs(df).collect()
    }
    assert ("a", "b") in got
    assert ("a", "c") not in got and ("b", "c") not in got


def test_minhash_signature_deterministic(spark):
    df = spark.createDataFrame([("a", "some content here")], "file_id string, content string")
    s1 = blocking.minhash_signatures(df).collect()[0]["sig"]
    s2 = blocking.minhash_signatures(df).collect()[0]["sig"]
    assert s1 == s2 and len(s1) == 128


def _block_pairs_oracle(blocks: dict, cap: int, salted: bool, n_sub) -> set:
    """Brute-force block_pairs: all pairs up to ``cap``; over it, the star
    to the block minimum plus, when ``salted``, all pairs sharing a
    sub-block (``n_sub`` maps an id and the block's sub-block count to
    its sub-block)."""
    out = set()
    for ids in blocks.values():
        if len(ids) <= cap:
            out |= {(a, b) for a in ids for b in ids if a < b}
            continue
        root = min(ids)
        out |= {(root, i) for i in ids if i != root}
        if salted:
            k = -(-len(ids) // cap)
            out |= {
                (a, b) for a in ids for b in ids if a < b and n_sub[a, k] == n_sub[b, k]
            }
    return out


@pytest.mark.parametrize("cap", [1, 4])
@pytest.mark.parametrize("salted", [False, True])
def test_block_pairs_matches_oracle(spark, cap, salted):
    # blocks of size 1, cap, cap+1 and 5*cap, plus a null key (no block)
    sizes = {"one": 1, "at_cap": cap, "over_cap": cap + 1, "hot": 5 * cap}
    blocks, rows, next_id = {}, [], 0
    for key, size in sizes.items():
        blocks[key] = list(range(next_id, next_id + size))
        rows += [(key, i) for i in blocks[key]]
        next_id += size
    rows += [(None, next_id), (None, next_id + 1)]
    keyed = spark.createDataFrame(rows, "_bk string, file_id long")
    # the salt as Spark computes it, for every (id, sub-block count)
    ks = sorted({-(-s // cap) for s in sizes.values()})
    salt_rows = (
        spark.createDataFrame([(i, k) for i in range(next_id) for k in ks], "i long, k int")
        .select("i", "k", F.pmod(F.xxhash64("i"), F.col("k")).alias("s"))
        .collect()
    )
    n_sub = {(r["i"], r["k"]): r["s"] for r in salt_rows}

    out = blocking.block_pairs(keyed, cap, "ch", salted=salted)
    got = [(r["left_id"], r["right_id"], r["channel"]) for r in out.collect()]
    assert {c for _, _, c in got} <= {"ch"}
    assert {(l, r) for l, r, _ in got} == _block_pairs_oracle(blocks, cap, salted, n_sub)
