"""End-to-end golden test (SURVEY §5.3 / FIXTURES.md §5): F1 >= 0.99 on
labeled pairs, sha256 invariant at every stage, survivorship argmax,
determinism across parallelism, resume reproducibility."""

import pytest
from pyspark.sql import functions as F

from music_dedupe_spark.pipeline import (
    PipelineConfig,
    eligible_files,
    pairwise_f1,
    run_pipeline,
    sha_invariant_ok,
)


@pytest.fixture(scope="module")
def result(spark, files_df):
    out = run_pipeline(files_df, PipelineConfig())
    out["clusters"].cache()
    out["clusters"].count()
    return out


def test_pairwise_f1_gate(result, labeled_pairs_df):
    m = pairwise_f1(result["clusters"], labeled_pairs_df)
    assert m["f1"] >= 0.99, m


def test_sha256_invariant_every_stage(files_df, result):
    eligible = eligible_files(files_df).select("content")
    assert sha_invariant_ok(eligible, result["features"].select("content"))
    # ranked (post-survivorship, pre-delete) still carries every row
    assert sha_invariant_ok(eligible, result["ranked"].select("content"))


def test_cluster_membership_matches_expected(result, expected_clusters_df):
    # every injected cluster is recovered with the same membership
    # (entity ids are both min-member canonical -> direct comparison)
    got = result["clusters"].select("member_id", F.col("entity_id").alias("got"))
    j = expected_clusters_df.join(got, "member_id", "left")
    assert j.filter(F.col("got").isNull()).count() == 0
    assert j.filter(F.col("got") != F.col("entity_id")).count() == 0


def test_survivorship_argmax(result):
    # keeper = max by (quality, size_chars), deterministic tie-break
    # (A2, core.py:803-826)
    ranked = result["ranked"]
    keepers = ranked.filter(F.col("is_keeper")).select(
        "entity_id",
        F.col("quality").alias("kq"),
        F.col("size_chars").alias("ks"),
        F.col("file_id").alias("kid"),
    )
    violation = (
        ranked.join(keepers, "entity_id")
        .filter(
            (F.col("quality") > F.col("kq"))
            | ((F.col("quality") == F.col("kq")) & (F.col("size_chars") > F.col("ks")))
        )
        .count()
    )
    assert violation == 0
    # exactly one keeper per entity
    bad = (
        ranked.groupBy("entity_id")
        .agg(F.sum(F.col("is_keeper").cast("int")).alias("n"))
        .filter(F.col("n") != 1)
        .count()
    )
    assert bad == 0


def test_public_pair_outputs_canonical_string_order(result):
    """The public pair views (candidate/scored/matched) must satisfy the
    documented left_id < right_id contract in STRING order — internally
    pairs are canonical in 64-bit fid order, which disagrees with string
    order for ~half the pairs, so public_pairs must re-canonicalize (a
    consumer joining against string-canonicalized pair keys would
    silently drop the flipped half otherwise)."""
    for stage in ("candidate_pairs", "scored_pairs", "matched_pairs"):
        df = result[stage]
        assert df.filter(F.col("left_id") >= F.col("right_id")).count() == 0, stage
        assert dict(df.dtypes)["left_id"] == "string", stage


def test_determinism_under_parallelism(spark, files_df, labeled_pairs_df, result):
    # FIXTURES.md §5.5: same clusters with a different shuffle layout
    cfg = PipelineConfig()
    with_other_parallelism = run_pipeline(files_df.repartition(3), cfg)
    assert cfg == PipelineConfig()  # the caller's config is not written to
    a = {(r["member_id"], r["entity_id"]) for r in result["clusters"].collect()}
    b = {(r["member_id"], r["entity_id"]) for r in with_other_parallelism["clusters"].collect()}
    assert a == b


def test_checkpointed_run_and_resume(spark, files_df, tmp_path, result):
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ck"))
    out = run_pipeline(files_df, cfg)
    a = {(r["member_id"], r["entity_id"]) for r in out["clusters"].collect()}
    want = {(r["member_id"], r["entity_id"]) for r in result["clusters"].collect()}
    assert a == want
    # stage parquets exist (Iceberg-snapshot analog: atomic per-stage commits)
    for stage in ["stage0_features", "stage1_candidates", "stage2_scored"]:
        assert (tmp_path / "ck" / stage / "_SUCCESS").exists()
    # resume: re-run reading the cc checkpoints
    out2 = run_pipeline(files_df, PipelineConfig(checkpoint_dir=str(tmp_path / "ck"), resume=True))
    b = {(r["member_id"], r["entity_id"]) for r in out2["clusters"].collect()}
    assert b == want
