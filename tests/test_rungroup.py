"""J1 parity: the distributed sorted-neighborhood run-grouping must
reproduce the reference's sequential forward pass (core.py:687-706),
tested oracle-by-reimplementation (the reference repo has no tests —
SURVEY §5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from music_dedupe_spark.functions.text import with_derived_columns
from music_dedupe_spark.operators.rungroup import rungroup_sequential, sorted_run_groups
from music_dedupe_spark.pipeline import PipelineConfig, rungroup_channel


def _oracle_groups(rows):
    """reference loop over (key, id) rows sorted like the operator."""
    rows = sorted(rows, key=lambda r: (r[0], r[1]))
    gids = rungroup_sequential([r[0] for r in rows])
    groups = {}
    for (key, rid), g in zip(rows, gids):
        groups.setdefault(g, set()).add(rid)
    return {frozenset(v) for v in groups.values()}


def _spark_groups(spark, rows, **kw):
    df = spark.createDataFrame(rows, "norm_name string, file_id string")
    out = sorted_run_groups(df, **kw).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["group_id"], set()).add(r["file_id"])
    return {frozenset(v) for v in groups.values()}


def test_sequential_matches_reference_semantics():
    # groups are compared against the HEAD, not the previous row:
    # fuzz(10*a, 9*a+b) = 90 -> join; fuzz(10*a, 8*a+2b) = 80 -> NEW
    # group, even though fuzz vs the PREVIOUS row is 90.
    keys = ["aaaaaaaaaa", "aaaaaaaaab", "aaaaaaaabb", "zzzz"]
    assert rungroup_sequential(keys) == [0, 0, 1, 2]
    # empty + single
    assert rungroup_sequential([]) == []
    assert rungroup_sequential(["x"]) == [0]
    # identical keys chain into one group
    assert rungroup_sequential(["m", "m", "m"]) == [0, 0, 0]


@pytest.mark.parametrize("n_parts", [1, 4, 13])
def test_distributed_matches_oracle(spark, corpus, n_parts):
    from music_dedupe_spark.fixtures import block_key, file_id

    rows = [
        (block_key(r.path), file_id(r.repo, r.path, r.commit))
        for r in corpus.files.itertuples()
    ]
    want = _oracle_groups(rows)
    got = _spark_groups(spark, rows, num_partitions=n_parts)
    assert got == want


def test_boundary_merge_across_partitions(spark):
    # many near-identical keys force groups to span range-partition
    # boundaries at high partition counts
    rows = [(f"samekey{i % 3}", f"id{i:04d}") for i in range(200)]
    want = _oracle_groups(rows)
    got = _spark_groups(spark, rows, num_partitions=16)
    assert got == want


def _channel_pairs(spark, rows, cfg):
    df = spark.createDataFrame(rows, "norm_name string, file_id string")
    out = rungroup_channel(df, cfg, len(rows)).collect()
    assert {r["channel"] for r in out} <= {"sorted_neighborhood"}
    return sorted((r["left_id"], r["right_id"]) for r in out)


def test_candidate_groups_filters_singletons(spark):
    rows = [("alphaalpha", "a1"), ("alphaalphb", "a2"), ("omega", "z1")]
    got = _channel_pairs(spark, rows, PipelineConfig())
    assert got == [("a1", "a2")]  # omega is a singleton -> pairs nothing


def test_group_pairs_shape(spark):
    rows = [("k", f"id{i}") for i in range(5)]
    got = _channel_pairs(spark, rows, PipelineConfig())
    assert len(got) == 10  # C(5,2) all-pairs for a small group
    assert all(l < r for l, r in got)


def test_rungroup_channel_blocks(spark):
    """Each run group is a ``block_pairs`` block. A group over the cap
    is a star to its MINIMUM id, the root every channel uses, even where
    the group's head (its first key in sort order) is another row."""
    # fuzz("alphaalpha", "alphaalph?") = 90 > 85: one group of 3 headed
    # by "b" (the smallest key), over a cap of 2
    mixed = [("alphaalpha", "b"), ("alphaalphb", "a"), ("alphaalphc", "c")]
    got = _channel_pairs(spark, mixed, PipelineConfig(block_cap=2))
    assert got == [("a", "b"), ("a", "c")]
