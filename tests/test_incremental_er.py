"""Incremental ER: adding a delta to an already-resolved corpus must
produce the same entities as re-running the full pipeline — including
merges where a new file bridges two previously-separate entities."""

import pytest
from pyspark.sql import functions as F

from music_dedupe_spark.fixtures import generate_corpus, write_corpus
from music_dedupe_spark.operators import blocking
from music_dedupe_spark.operators.incremental_er import _touching_new, incremental_link
from music_dedupe_spark.pipeline import (
    PipelineConfig,
    ingest,
    pair_view,
    pairwise_f1,
    run_pipeline,
)
from music_dedupe_spark.session import cache_scope, persist


@pytest.fixture(scope="module")
def corpus_dirs(tmp_path_factory):
    d = tmp_path_factory.mktemp("incr")
    write_corpus(generate_corpus(seed=17, n_base=400, n_clusters=60), str(d))
    return str(d)


def _labels(clusters):
    return {r["member_id"]: r["entity_id"] for r in clusters.collect()}


def test_incremental_matches_full_rerun(spark, corpus_dirs):
    files = spark.read.parquet(f"{corpus_dirs}/files.parquet")
    # split deterministically: ~half the files arrive later
    is_new = F.crc32("path") % 2 == 1
    old_files = files.filter(~is_new)
    new_files = files.filter(is_new)

    base = run_pipeline(old_files, PipelineConfig())
    inc = incremental_link(
        new_files,
        base["features"],
        base["clusters"],
        existing_signatures=base["minhash_sig_store"],
    )
    full = run_pipeline(files, PipelineConfig())

    # the signature store must cover every old content: the delta hashes
    # exactly the new contents absent from the store — O(|new|), the
    # headline incremental property, with LSH ON (its default)
    old_shas = {
        r["content_sha256"]
        for r in base["features"].select("content_sha256").distinct().collect()
    }
    new_shas = {
        r["content_sha256"]
        for r in inc["features"].select("content_sha256").distinct().collect()
    }
    assert inc["metrics"]["n_signatures_computed"] == len(new_shas - old_shas)
    # and the returned store covers old ∪ new for the NEXT delta
    store_shas = {
        r["content_sha256"]
        for r in inc["minhash_sig_store"].select("content_sha256").collect()
    }
    assert store_shas == old_shas | new_shas

    got = _labels(inc["clusters"])
    want = _labels(full["clusters"])
    assert set(got) == set(want), "member sets differ"
    # compare PARTITIONS, not raw labels: the incremental entity_id is a
    # component min over (assignment ∪ delta) node ids, which can be an
    # entity id rather than the global min member id — group members by
    # label on each side and compare the groupings
    def groups(lbl):
        g = {}
        for m, e in lbl.items():
            g.setdefault(e, set()).add(m)
        # a SET of frozensets: sorted() would use frozenset's subset
        # partial order and compare arbitrary elements
        return {frozenset(v) for v in g.values()}

    assert groups(got) == groups(want)

    # and the incremental run still nails the labeled-pair truth
    lp = spark.read.parquet(f"{corpus_dirs}/labeled_pairs.parquet")
    m = pairwise_f1(inc["clusters"], lp)
    assert m["f1"] >= 0.99, m


def test_incremental_candidates_touch_new_or_regroup(spark, corpus_dirs):
    """The capped/LSH/content channels must only emit new-touching pairs;
    the sorted-neighborhood channel is the ONE channel allowed to emit
    old×old pairs (group heads shift with the global order), and only
    across two different existing entities (same-entity pairs are
    union-redundant and must be pruned)."""
    files = spark.read.parquet(f"{corpus_dirs}/files.parquet")
    is_new = F.crc32("path") % 2 == 1
    base = run_pipeline(files.filter(~is_new), PipelineConfig())
    inc = incremental_link(
        files.filter(is_new),
        base["features"],
        base["clusters"],
        existing_signatures=base["minhash_sig_store"],
    )

    new_ids = {
        r["file_id"] for r in inc["features"].select("file_id").collect()
    }
    entity = {
        r["member_id"]: r["entity_id"] for r in base["clusters"].collect()
    }
    pairs = inc["candidate_pairs"].select("left_id", "right_id", "channel").collect()
    assert len(pairs) > 0
    for r in pairs:
        if r["left_id"] in new_ids or r["right_id"] in new_ids:
            continue
        assert r["channel"] == "sorted_neighborhood", (
            f"old×old pair from channel {r['channel']} — the delta property is broken"
        )
        assert entity.get(r["left_id"]) != entity.get(r["right_id"]), (
            "old×old same-entity pair not pruned"
        )


# strings chosen so inserting C between H and D re-heads the run-group
# chain: old order [H, D, E] groups as {H, D} | {E} (fuzz(H,D)=90 > 85,
# fuzz(H,E)=83 <= 85), but with C present the order is [H, C, D, E] and
# C breaks from H (83) then absorbs BOTH D (88) and E (90) — so the
# old×old pair (D, E) is co-grouped only in the new global order. A
# new-touching-only delta would never score it; the full rerun would.
_H = "cmdule handlerr alpha"
_C = "hodule handger alpha"
_D = "imodule handler alpha"
_E = "mhodule ander alphka"


def test_chained_deltas_compact_signature_store(spark, tmp_path):
    """Two chained delta runs with a checkpoint dir: each run compacts
    the updated signature store to a NEW versioned parquet
    (sig_store_0000, _0001 — never overwriting the version its own
    input plan reads), the second run reads the first's store and
    hashes only its own new contents, and the store stays complete."""
    def mkfiles(rows):
        return spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )

    base_rows = [("r", f"src/alpha_{i}.py", "c0", "py", f"base content {i}") for i in range(4)]
    d1_rows = [("r", "src/beta_1.py", "c1", "py", "delta one content")]
    d2_rows = [("r", "src/gamma_1.py", "c2", "py", "delta two content")]

    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ck"))
    base = run_pipeline(mkfiles(base_rows), cfg)
    inc1 = incremental_link(
        mkfiles(d1_rows), base["features"], base["clusters"], cfg,
        existing_signatures=base["minhash_sig_store"],
    )
    assert inc1["metrics"]["n_signatures_computed"] == 1
    assert (tmp_path / "ck" / "sig_store_0000" / "_SUCCESS").exists()

    # features for the chained run = old ∪ delta1 (public contract)
    feats2 = base["features"].unionByName(inc1["features"])
    inc2 = incremental_link(
        mkfiles(d2_rows), feats2, inc1["clusters"], cfg,
        existing_signatures=inc1["minhash_sig_store"],
    )
    assert inc2["metrics"]["n_signatures_computed"] == 1
    assert (tmp_path / "ck" / "sig_store_0001" / "_SUCCESS").exists()
    store_shas = {
        r["content_sha256"]
        for r in inc2["minhash_sig_store"].select("content_sha256").collect()
    }
    all_shas = {
        r["content_sha256"]
        for r in feats2.unionByName(inc2["features"]).select("content_sha256").collect()
    }
    assert store_shas == all_shas


def test_delta_rungroup_emits_regrouped_old_pair(spark):
    rows = [
        ("r", f"src/{name}.py", "c0", "py", f"content {i} {name}")
        for i, name in enumerate([_H, _D, _E])
    ]
    old_files = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    new_files = spark.createDataFrame(
        [("r", f"src/{_C}.py", "c1", "py", "content new bridge")],
        "repo string, path string, commit string, lang string, content string",
    )
    base = run_pipeline(old_files, PipelineConfig())
    inc = incremental_link(
        new_files, base["features"], base["clusters"], PipelineConfig(),
        existing_signatures=base["minhash_sig_store"],
    )
    feats = {r["norm_name"]: r["file_id"] for r in base["features"].collect()}
    d_id, e_id = feats[_D], feats[_E]
    pair = tuple(sorted([d_id, e_id]))
    got = {
        (r["left_id"], r["right_id"]): r["channel"]
        for r in inc["candidate_pairs"].collect()
    }
    assert pair in got, (
        "regrouped old×old neighborhood pair missing from the delta candidates"
    )
    # the only channel that keeps old×old pairs: LSH keeps new-touching ones
    assert got[pair] == "sorted_neighborhood"


def test_signature_store_of_another_length_is_rejected(spark):
    """A store of 64-long signatures joins cleanly but would break the
    128-row LSH banding silently; incremental_link refuses it."""
    schema = "repo string, path string, commit string, lang string, content string"
    old = spark.createDataFrame([("r", "src/a.py", "c0", "py", "old content")], schema)
    new = spark.createDataFrame([("r", "src/b.py", "c1", "py", "new content")], schema)
    feats = ingest(old)
    assignment = feats.select(
        F.col("file_id").alias("member_id"), F.col("file_id").alias("entity_id")
    )
    store = spark.createDataFrame(
        [("0" * 64, [0] * 64)], "content_sha256 string, sig array<long>"
    )
    with cache_scope(), pytest.raises(ValueError, match="64-perm"):
        incremental_link(new, feats, assignment, existing_signatures=store)


@pytest.mark.parametrize("band_cap", [2, 200])
def test_pruned_delta_lsh_keeps_every_new_touching_pair(
    spark, files_df, tmp_path, band_cap
):
    """The delta's LSH pass bands only the buckets a new row touches; it
    keeps whole buckets, so its new-touching pairs are exactly those of
    a pass over the whole corpus — also at band_cap 2, where touched
    buckets go over the cap and pair as stars — from fewer band rows."""
    generate_corpus(seed=43, n_base=60, n_clusters=15).files.to_parquet(
        f"{tmp_path}/delta.parquet", index=False
    )
    pv_new = pair_view(ingest(spark.read.parquet(f"{tmp_path}/delta.parquet")))
    pv_all = pair_view(ingest(files_df)).withColumn("_is_new", F.lit(False)).unionByName(
        pv_new.withColumn("_is_new", F.lit(True))
    )
    with cache_scope():
        sigs = persist(
            blocking.minhash_signatures(pv_all).join(
                pv_all.select("file_id", "_is_new"), "file_id"
            )
        )

        def pairs(**kw):
            lsh = blocking.minhash_lsh_pairs(pv_all, band_cap=band_cap, sigs=sigs, **kw)
            return {tuple(r) for r in _touching_new(lsh, pv_new).collect()}

        full = pairs()
        assert full and pairs(new_col="_is_new") == full
        touched = blocking.lsh_bands(sigs, "_is_new")
        assert touched.count() < blocking.lsh_bands(sigs).count()
        if band_cap == 2:  # the touched buckets do go over the cap
            assert touched.groupBy("_bk").count().filter("count > 2").count() > 0
