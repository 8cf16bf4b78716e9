"""Side-output artifacts: the reference's .nfo/.jpg/folder.jpg writes
as a derived table (SURVEY S12)."""

from pyspark.sql import functions as F

from music_dedupe_spark.operators.multimodal import side_output_artifacts


def test_side_output_artifacts(spark, files_df):
    from music_dedupe_spark.pipeline import ingest

    feats = ingest(files_df).limit(20)
    arts = side_output_artifacts(feats).collect()
    # both reference side outputs per file: .nfo + .jpg (core.py:890-958)
    assert len(arts) == 40
    nfo = [r for r in arts if r["artifact_kind"] == "nfo"]
    jpg = [r for r in arts if r["artifact_kind"] == "jpg"]
    assert len(nfo) == 20 and len(jpg) == 20
    for r in nfo:
        assert r["artifact_path"].endswith(".nfo")
        # XML template of core.py:907-914
        assert r["artifact_payload"].startswith('<?xml version="1.0"')
        assert "<musicvideo>" in r["artifact_payload"]
        assert "<artist>" in r["artifact_payload"]
        assert "<runtime>" in r["artifact_payload"]
    for r in jpg:
        assert r["artifact_path"].endswith(".jpg")
        assert r["artifact_payload"] is None  # no art column -> null payload


def test_side_output_artifacts_with_art(spark, files_df):
    from music_dedupe_spark.pipeline import ingest

    feats = ingest(files_df).limit(20).withColumn(
        "cover_art",
        F.when(F.xxhash64("file_id") % 2 == 0, F.to_binary(F.lit("ffd8"), F.lit("hex"))),
    )
    feats.cache()
    n_art = feats.filter(F.col("cover_art").isNotNull()).count()
    n_dirs_with_art = (
        feats.filter(F.col("cover_art").isNotNull())
        .select(F.expr("regexp_replace(path, '/[^/]+$', '')").alias("d"))
        .distinct()
        .count()
    )
    arts = side_output_artifacts(feats, art_col="cover_art").collect()
    jpg = [r for r in arts if r["artifact_kind"] == "jpg"]
    folder = [r for r in arts if r["artifact_kind"] == "folder"]
    assert len(jpg) == 20
    assert sum(r["artifact_payload"] is not None for r in jpg) == n_art
    # one folder.jpg per directory that has at least one art-bearing file
    assert len(folder) == n_dirs_with_art
    for r in folder:
        assert r["artifact_path"].endswith("folder.jpg")
        assert r["artifact_payload"] == "/9g="  # base64 of ffd8
    feats.unpersist()
