"""Cache lifetimes: a ``cache_scope`` releases every frame the engine
persisted inside it, and the registry entries that persist release
before they return — the session's CacheManager ends empty."""

import threading

import pytest

from music_dedupe_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard
from music_dedupe_spark.pipeline import PipelineConfig, run_pipeline
from music_dedupe_spark.session import cache_scope, keep, persist


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


@pytest.fixture
def clean(spark):
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def test_scope_releases_on_exit_and_on_error(spark, clean):
    a = spark.range(10).selectExpr("id * 2 AS x")
    with cache_scope():
        persist(a).count()
        assert _cached(a)
    assert not _cached(a) and _cache_empty(spark)

    b = spark.range(10).selectExpr("id * 3 AS x")
    with pytest.raises(ZeroDivisionError):
        with cache_scope():
            persist(b).count()
            1 / 0
    assert not _cached(b) and _cache_empty(spark)


def test_keep_hands_a_frame_to_the_enclosing_scope(spark, clean):
    inner = spark.range(10).selectExpr("id * 5 AS x")
    temp = spark.range(10).selectExpr("id * 7 AS x")
    with cache_scope():
        with cache_scope():
            persist(temp)
            keep(persist(inner))
        assert _cached(inner) and not _cached(temp)
    assert not _cached(inner) and _cache_empty(spark)


def test_no_scope_persists_for_the_session(spark, clean):
    df = persist(spark.range(10).selectExpr("id * 11 AS x"))
    with cache_scope():
        pass
    assert _cached(df)
    # kept with no enclosing scope: the session owns it too
    with cache_scope():
        kept = keep(persist(spark.range(10).selectExpr("id * 13 AS x")))
    assert _cached(kept)


def test_scope_leaves_a_plan_another_owner_cached(spark, clean):
    """Spark keys a cache by plan: a scope that persists a plan the
    session already caches shares that cache, and neither releases it
    nor hands it on with ``keep``."""
    outer = persist(spark.range(10).selectExpr("id * 23 AS x"))
    with cache_scope():
        with cache_scope():
            keep(persist(spark.range(10).selectExpr("id * 23 AS x")))
        assert _cached(outer)
    assert _cached(outer)


def test_scopes_are_per_thread(spark, clean):
    """A scope open on one thread never collects another thread's
    frames (the LSH canary pass persists on its own thread)."""
    main = spark.range(10).selectExpr("id * 17 AS x")
    other = spark.range(10).selectExpr("id * 19 AS x")
    with cache_scope():
        t = threading.Thread(target=lambda: persist(other))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
        persist(main)
    assert not _cached(main)
    assert _cached(other)


def test_scoped_run_pipeline_leaves_no_cache(spark, files_df, clean):
    for _ in range(5):
        with cache_scope():
            out = run_pipeline(files_df, PipelineConfig())
            out["clusters"].count()
        assert _cache_empty(spark)


@pytest.mark.parametrize("entry", [dedup_ngram_jaccard, dedup_minhash_lsh])
def test_registry_entries_release_their_caches(spark, sf_dir, clean, entry):
    entry(spark, sf_dir).collect()
    assert _cache_empty(spark)
