"""Plan-shape assertions: predicate pushdown, column pruning, broadcast
joins — the scale checklist from SURVEY §4 as tests."""

import pytest
from pyspark.sql import functions as F

from music_dedupe_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
)


def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    pf = pushed_filters(df)
    assert any("l_quantity" in f for f in pf), pf


def test_column_pruning(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    cols = scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_ingest_scan_prunes_and_pushes(spark, files_df, corpus_dir):
    # the ingest lang predicate must reach the parquet scan
    from music_dedupe_spark.pipeline import eligible_files

    df = eligible_files(spark.read.parquet(f"{corpus_dir}/files.parquet")).select("path")
    pf = pushed_filters(df)
    assert any("lang" in f for f in pf), pf


def test_broadcast_join_small_dim(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    assert has_broadcast_join(j)


def test_group_pairs_small_side_broadcast(spark):
    # the run-group small-groups semi-join is explicitly broadcast
    from music_dedupe_spark.operators.rungroup import group_pairs, sorted_run_groups

    df = spark.createDataFrame(
        [("kkkkkkkk", f"id{i}") for i in range(6)], "norm_name string, file_id string"
    )
    pairs = group_pairs(sorted_run_groups(df, num_partitions=2))
    assert has_broadcast_join(pairs)


def test_scoring_cascade_joins_broadcast_when_features_small(spark, files_df):
    """The 3-join featureization must plan as broadcast hash joins (no
    sort-merge, no pair-side shuffle) when the feature table is small —
    the regime every sf-scale test and the scaling probe run in. At
    10^12 rows the features side exceeds any broadcast threshold and
    AQE plans shuffle joins instead; this pins the small-dim plan so a
    refactor can't silently put a sort or a pair-row exchange back."""
    from music_dedupe_spark.operators.scoring import score_candidates
    from music_dedupe_spark.pipeline import ingest

    feats = ingest(files_df)
    ids = feats.select("file_id")
    pairs = (
        ids.withColumnRenamed("file_id", "left_id")
        .crossJoin(ids.withColumnRenamed("file_id", "right_id").limit(5))
        .filter(F.col("left_id") < F.col("right_id"))
    )
    plan = (
        score_candidates(pairs, feats)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 3, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_repo_partitioned_scan_prunes_partitions(spark, files_df, tmp_path):
    """P2 path-prefix scoping (ref scans under a path prefix,
    core.py:585-590) as PHYSICAL partition pruning: a repo-partitioned
    layout + a repo predicate must prune at planning time
    (PartitionFilters), and only the matching repo's files are read."""
    from music_dedupe_spark.plans import partition_filters

    d = str(tmp_path / "by_repo")
    files_df.write.partitionBy("repo").mode("overwrite").parquet(d)
    one_repo = files_df.select("repo").first()["repo"]

    scoped = spark.read.parquet(d).filter(F.col("repo") == one_repo).select("path")
    pf = partition_filters(scoped)
    assert any("repo" in f for f in pf), f"no partition filter in plan: {pf}"
    # the row-level PushedFilters must NOT need the repo predicate — it
    # is resolved by directory pruning
    want = files_df.filter(F.col("repo") == one_repo).count()
    assert scoped.count() == want


def test_scoring_cascade_exchange_shape(spark, files_df):
    """Pins the two hard-won plan properties of the scoring cascade
    against future edits, in the non-broadcast (sort-merge) regime that
    a 10^12-pair corpus would actually plan:

    1. the LEFT token arrays never cross a pair-row exchange at all
       (they are joined after `_ship` is computable, and the join output
       feeds the Arrow kernel with no further shuffle);
    2. the RIGHT token arrays cross a pair-row exchange only on plans
       where `_ship` has already been computed (i.e. after the column
       was nulled for implausible pairs — only plausible pairs move
       array BYTES);
    3. every pair-side shuffle partitions on a BIGINT id (the internal
       8-byte fid space — a string key here would silently re-inflate
       bytes-per-pair ~4x);
    4. exactly one Arrow hop (the fused scoring kernel)."""
    import re

    from music_dedupe_spark.operators import blocking, scoring
    from music_dedupe_spark.pipeline import ingest, pair_view
    from music_dedupe_spark.plans import explain_str
    from music_dedupe_spark.plans.checks import exchanges

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pv = pair_view(ingest(files_df))
        pairs = blocking.exact_key_pairs(pv).select("left_id", "right_id")
        scored = scoring.score_candidates(pairs, pv)
        exs = exchanges(scored)
        assert exs, "expected sort-merge exchanges with broadcast disabled"
        pair_exs = [e for e in exs if {"left_id", "right_id"} <= e["cols"]]
        assert pair_exs, "expected at least one pair-row exchange"
        assert not any("token_hashes_l" in e["cols"] for e in pair_exs), (
            "left token arrays crossed a pair-row exchange"
        )
        for e in pair_exs:
            if "token_hashes_r" in e["cols"]:
                assert "_ship" in e["cols"], (
                    "right token arrays crossed a pair-row exchange before "
                    "the _ship nulling"
                )
        keys = [
            k
            for e in pair_exs
            for k in re.findall(r"hashpartitioning\((?:left|right)_id#\d+(\w*)", e["args"])
        ]
        assert keys and all(k == "L" for k in keys), (
            f"pair shuffles must probe on bigint fids, got suffixes {keys}"
        )
        txt = explain_str(scored)
        assert len(re.findall(r"MapInArrow|ArrowEvalPython|PythonMapInArrow", txt)) >= 1
        assert txt.count("Exchange") > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_exchanges_parses_trailing_block(monkeypatch):
    """An Exchange that is the LAST detail block of the formatted
    explain has no trailing blank line; the parser must still capture
    it, or bytes-per-shuffle assertions pass vacuously for exactly
    that node."""
    from music_dedupe_spark.plans import checks

    txt = (
        "(1) Scan parquet\n"
        "Output [1]: [a#1]\n"
        "\n"
        "(2) Exchange\n"
        "Input [2]: [a#1, b#2]\n"
        "Arguments: hashpartitioning(a#1, 32)\n"
    )
    monkeypatch.setattr(checks, "explain_str", lambda df, mode="formatted": txt)
    exs = checks.exchanges(object())
    assert len(exs) == 1
    assert exs[0]["cols"] == {"a", "b"}
    assert "hashpartitioning" in exs[0]["args"]



@pytest.mark.parametrize(
    "channel, n_exchanges",
    [("exact_key_pairs", 12), ("minhash_lsh_pairs", 7), ("content_sha_star", 2)],
)
def test_keyed_channel_plans_one_block_aggregate(spark, files_df, channel, n_exchanges):
    """Every keyed channel goes through ``blocking.block_pairs``, whose
    one ``groupBy("_bk")`` gives a block both its size and its star
    root. With broadcast disabled, exactly one ``_bk`` exchange carries
    the root (``min``), and it is the one that also counts the block —
    no second aggregate and join for the star. The Exchange totals pin
    the plan: before the primitive, exact_key_pairs planned 14 and
    minhash_lsh_pairs 9."""
    import re

    from music_dedupe_spark.operators import blocking
    from music_dedupe_spark.pipeline import ingest, pair_view
    from music_dedupe_spark.plans.checks import exchanges

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        exs = exchanges(getattr(blocking, channel)(pair_view(ingest(files_df))))
        bk = [e for e in exs if re.match(r"hashpartitioning\(_bk#\d+, \d+\)", e["args"])]
        roots = [e for e in bk if "min" in e["cols"]]
        assert len(roots) == 1 and "count" in roots[0]["cols"], bk
        assert len(exs) == n_exchanges, [(sorted(e["cols"]), e["args"]) for e in exs]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
