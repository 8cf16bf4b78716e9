"""Job budget: the number of Spark jobs and queries each engine stage
submits on the seed-42 fixture, and the shuffle bytes it writes, may not
grow.

A refactor that adds a stray action (a ``.count()`` to materialize
something, a ``collect`` to inspect it) keeps every output the same and
only shows as more work: one more query, and the jobs that query runs.
Every count is taken by one module fixture, from an empty cache and
with inputs it builds itself, so neither the order of the tests nor the
caches other tests keep or clear can move it. Each call runs under its
own job group and is counted exactly.

Queries count the same on every run. Jobs do too, except in a query
that runs many AQE query stages at once, where the number of stage jobs
moves between runs on the same input: the one query of exact_key_pairs
(13-14 jobs) and of minhash_lsh_pairs (15-16), and the candidate query
of incremental_link (127-128 jobs in all). Their jobs are not bounded;
their queries are.

A plan that sends a wide column (the content, the 1 KB MinHash arrays)
through an exchange no operator reads it after keeps every output and
every count the same; only the shuffle bytes show it, so the calls that
move those columns also have a byte ceiling.
"""

import uuid

import pytest

from music_dedupe_spark.fixtures import generate_corpus
from music_dedupe_spark.operators import blocking, clustering
from music_dedupe_spark.operators.incremental_er import incremental_link
from music_dedupe_spark.pipeline import (
    PipelineConfig,
    ingest,
    pair_view,
    rungroup_channel,
    run_pipeline,
)
from music_dedupe_spark.session import cache_scope, persist

#: Spark jobs per call on generate_corpus(seed=42) (conftest's files_df),
#: the same at local[4] and local[8], for the calls whose job count does
#: not move from run to run. Lower a ceiling in the change that cuts
#: work; raising one is a regression that needs a stated reason.
JOB_CEILINGS = {
    "content_sha_star": 4,
    "rungroup_channel": 9,
    "run_pipeline": 81,
    "survivorship": 4,
    "connected_components": 28,
}

#: Queries (SQL executions, plus RDD actions run outside one) per call.
QUERY_CEILINGS = {
    "content_sha_star": 1,
    "exact_key_pairs": 1,
    "rungroup_channel": 2,
    "minhash_lsh_pairs": 1,
    "run_pipeline": 10,
    "survivorship": 1,
    "incremental_link": 14,
    "connected_components": 7,
}

#: Shuffle MB written per call: the largest of three runs at local[4]
#: plus 25%. The bytes move with the shuffle width, not between runs:
#: local[2] writes up to 7% less, local[8] up to 11% more.
SHUFFLE_CEILINGS_MB = {
    "run_pipeline": 1.10,
    "survivorship": 0.026,
    "incremental_link": 0.99,
}


def count_jobs(spark, fn) -> tuple[int, int, float]:
    """``(jobs, queries, shuffle MB)`` that ``fn()`` submits on this
    thread. ``fn`` runs under its own job group, and the listener bus is
    drained before the group's jobs are counted. ``queries`` counts the
    SQL executions that ran any of those jobs, and each job run outside
    an execution; the shuffle MB sum the bytes written by the stages of
    those jobs that did not exist before ``fn`` ran (a reused shuffle
    belongs to the call that wrote it)."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()
    before = _execution_ids(sql)
    stages_before = set(_stage_shuffle_bytes(sc))
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    queries, in_queries = set(), set()
    executions = sql.executionsList()
    for i in range(executions.size()):
        e = executions.apply(i)
        if e.executionId() in before:
            continue
        keys = e.jobs().keysIterator()
        ran = {keys.next() for _ in range(e.jobs().size())} & jobs
        if ran:
            queries.add(e.rootExecutionId())
            in_queries |= ran
    status = sc._jsc.sc().statusStore()
    stage_ids = set()
    for j in jobs:
        seq = status.job(j).stageIds()
        stage_ids |= {seq.apply(i) for i in range(seq.size())}
    shuffle = sum(
        b
        for (sid, attempt), b in _stage_shuffle_bytes(sc).items()
        if sid in stage_ids and (sid, attempt) not in stages_before
    )
    return len(jobs), len(queries) + len(jobs - in_queries), shuffle / 1e6


def _stage_shuffle_bytes(sc) -> dict[tuple[int, int], int]:
    """Shuffle bytes written per ``(stage id, attempt)`` in Spark's
    status store."""
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out[(s.stageId(), s.attemptId())] = s.shuffleWriteBytes()
    return out


def _execution_ids(sql) -> set[int]:
    executions = sql.executionsList()
    return {executions.apply(i).executionId() for i in range(executions.size())}


def measure(spark, files_df, delta_df) -> dict[str, tuple[int, int, float]]:
    """``(jobs, queries, shuffle MB)`` per call: each blocking channel
    over the persisted internal-id features, then run_pipeline +
    clusters.count(), its ranked survivors written to a ``noop`` sink,
    incremental_link of ``delta_df`` onto that run, and
    connected_components over its matched pairs. Every block releases its
    caches before the next one starts."""
    spark.catalog.clearCache()
    counts = {}
    with cache_scope():
        pv = persist(pair_view(ingest(files_df)))
        n_rows = pv.count()
        channels = {
            "content_sha_star": lambda: blocking.content_sha_star(pv),
            "exact_key_pairs": lambda: blocking.exact_key_pairs(pv),
            "rungroup_channel": lambda: rungroup_channel(pv, PipelineConfig(), n_rows),
            "minhash_lsh_pairs": lambda: blocking.minhash_lsh_pairs(pv),
        }
        for name, channel in channels.items():
            with cache_scope():
                counts[name] = count_jobs(spark, lambda: channel().count())

    with cache_scope():
        out = {}

        def run():
            out.update(run_pipeline(files_df, PipelineConfig()))
            out["clusters"].count()

        def link():
            inc = incremental_link(
                delta_df,
                out["features"],
                out["clusters"],
                existing_signatures=out["minhash_sig_store"],
            )
            inc["clusters"].count()

        counts["run_pipeline"] = count_jobs(spark, run)
        counts["survivorship"] = count_jobs(
            spark,
            lambda: out["ranked"].write.format("noop").mode("overwrite").save(),
        )
        counts["incremental_link"] = count_jobs(spark, link)
        edges = out["matched_pairs"].select("left_id", "right_id").localCheckpoint()
        counts["connected_components"] = count_jobs(
            spark, lambda: clustering.connected_components(edges).count()
        )
    return counts


@pytest.fixture(scope="module")
def job_counts(spark, files_df, tmp_path_factory):
    # another seed: every file id (a hash over the commit, which the
    # seed salts) is new to the base
    d = tmp_path_factory.mktemp("delta")
    generate_corpus(seed=43, n_base=60, n_clusters=15).files.to_parquet(
        f"{d}/delta.parquet", index=False
    )
    return measure(spark, files_df, spark.read.parquet(f"{d}/delta.parquet"))


@pytest.mark.parametrize("call", list(QUERY_CEILINGS))
def test_job_budget(job_counts, call):
    jobs, queries, shuffle_mb = job_counts[call]
    assert queries <= QUERY_CEILINGS[call], (call, queries)
    assert jobs <= JOB_CEILINGS.get(call, jobs), (call, jobs)
    assert shuffle_mb <= SHUFFLE_CEILINGS_MB.get(call, shuffle_mb), (call, shuffle_mb)
