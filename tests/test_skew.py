"""Skew behavior: hot blocks must stay bounded (north rule block-size
capping) and the pipeline must stay correct under them."""

import pytest
from pyspark.sql import functions as F

from music_dedupe_spark.fixtures import generate_corpus
from music_dedupe_spark.pipeline import PipelineConfig, pairwise_f1, run_pipeline


@pytest.fixture(scope="module")
def skew_corpus():
    # a few hot same-stem blocks of 300 members (hard negatives) on top
    # of a normal corpus — the miniature of LICENSE/__init__.py at 10^12
    return generate_corpus(
        seed=11,
        n_base=800,
        n_clusters=80,
        n_hard_negative_blocks=3,
        hard_negative_block_size=300,
        n_short=20,
        n_junk=10,
    )


@pytest.fixture(scope="module")
def skew_result(spark, skew_corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("skew")
    from music_dedupe_spark.fixtures import write_corpus

    write_corpus(skew_corpus, str(d))
    files = spark.read.parquet(f"{d}/files.parquet")
    out = run_pipeline(files, PipelineConfig())
    out["candidate_pairs"].cache().count()
    return str(d), out


def test_hot_block_pair_bound(skew_result, spark):
    d, out = skew_result
    cap = PipelineConfig().block_cap
    n_pairs = out["candidate_pairs"].count()
    # without capping, 3 blocks of 300 alone give 3*C(300,2) ~ 134k
    # pairs; the cap keeps each block to O(size*cap)
    assert n_pairs < 3 * 300 * (cap + 2) + 60_000, n_pairs


def test_skew_f1(skew_result, spark):
    d, out = skew_result
    lp = spark.read.parquet(f"{d}/labeled_pairs.parquet")
    m = pairwise_f1(out["clusters"], lp)
    assert m["f1"] >= 0.99, m


def test_hot_blocks_not_merged(skew_result, spark):
    # the 300 same-stem hard negatives share a blocking key but differ
    # in content: they must not collapse into one entity
    d, out = skew_result
    biggest = (
        out["clusters"].groupBy("entity_id").agg(F.count("*").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert biggest <= 10, f"a hot block collapsed into one cluster of {biggest}"


def test_block_size_count_no_window_no_straggler(spark):
    """VERDICT r1 'What's wrong #3': block-size counting must be a
    groupBy+join (AQE-splittable), never a window (one unsplittable task
    per hot key). One 100k-row hot key: assert (a) no Window operator in
    the physical plan, (b) pair output is cap-bounded, (c) the pair rows
    are spread over many tasks, not one straggler partition."""
    from music_dedupe_spark.operators.blocking import exact_key_pairs

    n_hot, n_rest, cap = 100_000, 5_000, 16
    df = (
        spark.range(n_hot + n_rest)
        .select(
            F.when(F.col("id") < n_hot, F.lit("main")) 
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 2500).cast("string")))
            .alias("norm_name"),
            F.format_string("f%07d", F.col("id")).alias("file_id"),
        )
    )
    pairs = exact_key_pairs(df, cap=cap)

    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "block-size count regressed to a window"

    dist = (
        pairs.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in dist)
    # bound: sub-blocks of ~cap rows -> <= size*(cap+1)/2 + star(size)
    # within the hot block, plus the small keys' pairs
    assert total <= n_hot * (cap + 1) // 2 + n_hot + n_rest * 2, total
    biggest = max(r["count"] for r in dist)
    assert len(dist) > 4, f"pairs landed in {len(dist)} partition(s)"
    assert biggest < total * 0.5, (
        f"straggler: {biggest}/{total} pair rows in one partition"
    )


def test_ngram_jaccard_df_cut_bounds_hot_shingles(spark):
    """VERDICT r1 'What's wrong #2': without a document-frequency cut,
    a stop-shingle present in every doc of a block makes the shingle
    self-join O(n^2). With the cut, docs that share ONLY hot shingles
    never pair at all."""
    from music_dedupe_spark.operators.dedup import ngram_jaccard_pairs

    n = 200  # <= 200 so chr(50+id) is unique per doc (chr wraps at 256)
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # every doc = hot prefix + ONE globally-unique codepoint + hot
        # suffix: every 3-gram either contains the unique char (df=1) or
        # is a stop-shingle shared by all n docs (df=n > cap). A hex
        # hash tail would collide on 3-grams and muddy the assertion.
        # ids 51/66 would map to 'e'/'t', whose junction shingle "e t"
        # collides across the two docs — remap them out of the range
        F.concat(
            F.lit("thethethe "),
            F.expr("chr(CASE WHEN id = 51 THEN 250 WHEN id = 66 THEN 251 ELSE 50 + id END)"),
            F.lit(" thethethe"),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
    )
    uncut = ngram_jaccard_pairs(docs, threshold=0.01, df_cap=None).count()
    assert uncut == n * (n - 1) // 2  # the quadratic explosion, live
    cut = ngram_jaccard_pairs(docs, threshold=0.01, df_cap=100).count()
    assert cut == 0, f"hot shingles still paired {cut} docs"


def test_rungroup_channel_gated_by_corpus_size(spark):
    """The exact sorted-neighborhood channel's carry-propagation collects
    O(n/50k) driver rows per round — a documented scale ceiling. Above
    PipelineConfig.rungroup_max_rows the channel must drop out of the
    union (LSH carries fuzzy recall instead)."""
    from music_dedupe_spark.fixtures import generate_corpus, write_corpus
    from music_dedupe_spark.pipeline import PipelineConfig, generate_candidates, ingest
    import tempfile

    d = tempfile.mkdtemp()
    write_corpus(generate_corpus(seed=3, n_base=120, n_clusters=20), d)
    feats = ingest(spark.read.parquet(f"{d}/files.parquet")).persist()
    n = feats.count()

    small_cfg = PipelineConfig()
    big_cfg = PipelineConfig(rungroup_max_rows=n - 1)
    ch_small = {
        r["channel"]
        for r in generate_candidates(feats, small_cfg).select("channel").distinct().collect()
    }
    ch_big = {
        r["channel"]
        for r in generate_candidates(feats, big_cfg).select("channel").distinct().collect()
    }
    assert "sorted_neighborhood" in ch_small
    assert "sorted_neighborhood" not in ch_big
    # the other channels are unaffected by the gate
    assert {"exact_key", "exact_content"} <= ch_big
    feats.unpersist()
