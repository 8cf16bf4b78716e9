"""Transitive closure: large-star / small-star connected components
(Kiveris et al., "Connected Components in MapReduce and Beyond" — cited
in SURVEY §4/PAPERS.md), as a driver-orchestrated loop of DataFrame jobs.

The reference recovers groups implicitly (candidates are built as runs,
core.py:687-706); at 10^12 rows the match graph must be closed
transitively, which Catalyst cannot express (no recursion). Each
iteration is two shuffles (groupBy min + join); lineage is truncated
every iteration with ``localCheckpoint`` and, when a checkpoint dir is
given, persisted as parquet so a killed run resumes from the last
complete iteration (north rule: per-iteration checkpointing +
resumability; the reference has none — SURVEY §2.9 T5).

Convergence is O(log n) iterations; duplicate-cluster graphs (stars and
short chains) converge in 2-3.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from music_dedupe_spark import fsutil


def _canonical(edges: DataFrame) -> DataFrame:
    """Canonical (u <= v) dedup'd edges. Self-loops are KEPT here (the
    node-set derivation needs them — a (x, x) input edge still names a
    node that must appear in the output as a singleton); the star loop
    filters them out itself."""
    return edges.select(
        F.least("left_id", "right_id").alias("u"), F.greatest("left_id", "right_id").alias("v")
    ).dropDuplicates(["u", "v"])


def _large_star(edges_uv: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor v to
    m = min(N(u) ∪ {u}). Emits canonical (u, v) with u < v directly
    (m <= u < v always), one dedup shuffle, no extra canonicalization."""
    directed = edges_uv.select("u", "v").unionAll(
        edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("minv"))
    m = F.least(F.col("u"), F.col("minv"))
    return (
        directed.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(m.alias("u"), F.col("v").alias("v"))
        .dropDuplicates(["u", "v"])
    )


def _small_star(edges_uv: DataFrame) -> DataFrame:
    """For each node u over strictly-smaller neighbors N<(u): connect
    N<(u) ∪ {u} to its minimum m. Emits canonical (m, x), m < x."""
    directed = (
        edges_uv.select("u", "v")
        .unionAll(edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("v") < F.col("u"))  # u is the larger endpoint
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("minv"))
    nodes = directed.select("u", "v").unionAll(directed.select("u", F.col("u").alias("v")))
    return (
        nodes.join(mins, "u")
        .filter(F.col("v") != F.col("minv"))
        .select(F.col("minv").alias("u"), F.col("v").alias("v"))
        .dropDuplicates(["u", "v"])
    )


def _edge_checksum(edges_uv: DataFrame) -> tuple[int, int]:
    row = edges_uv.select(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    max_iterations: int = 25,
    resume: bool = False,
) -> DataFrame:
    """(member_id, entity_id) for every node appearing in ``edges``;
    entity_id is the component's minimum member id (deterministic
    canonical representative — FIXTURES.md §3)."""
    spark = edges.sparkSession
    # ONE eager lineage cut of the canonical edge list, and EVERYTHING
    # downstream — the star loop AND the final node-set/assembly joins —
    # derives from this leaf. Deriving all_nodes from the raw ``edges``
    # argument instead re-traverses the caller's whole logical tree
    # (candidate generation, scoring, prior runs ...): measured ~10 s of
    # pure driver/Catalyst analysis per call on a deep incremental plan,
    # with every stage sub-second.
    raw = _canonical(edges).localCheckpoint()
    cur = raw.filter(F.col("u") != F.col("v"))
    start_iter = 0

    if checkpoint_dir and not resume:
        # a FRESH run in a reused dir must not inherit another run's
        # snapshots: clear them up front, so even if this run dies (or
        # exhausts max_iterations and raises), a later resume can only
        # find THIS run's iter_* — never a stale higher-indexed leftover
        # from a previous longer run, which latest_checkpoint (max
        # index) would silently prefer.
        _expire_iterations(spark, checkpoint_dir, keep=-1)
    if checkpoint_dir and resume:
        it = latest_checkpoint(checkpoint_dir, spark)
        if it is not None:
            # the parquet read is already a plan leaf — no extra cut needed
            snap = spark.read.parquet(f"{checkpoint_dir}/iter_{it:04d}")
            cur = snap.filter(F.col("u") != F.col("v"))
            start_iter = it + 1

    prev_sum: tuple[int, int] | None = None
    converged = False
    for it in range(start_iter, max_iterations):
        t0 = time.time()
        # cur is checkpointed, so although each star phase references its
        # input twice (union of both directions), the recompute depth is
        # one stage and ReusedExchange dedupes the shuffles — an explicit
        # persist of ls measured 40% SLOWER (materialization job cost).
        # (round 6 measured rejection: TWO star rounds per driver job —
        # to halve the job/checkpoint count — was tried and REVERTED:
        # without a lineage cut between the rounds, each star references
        # its input 2-3x, so chaining four of them fans the un-cut leaf
        # out ~36x; er_pipeline went 28 s -> 47-50 s on the bench. One
        # round per checkpointed job is the right granularity.)
        ls = _large_star(cur.select(F.col("u"), F.col("v")))
        ss = _small_star(ls.select(F.col("u"), F.col("v")))
        # truncate lineage every iteration; eager=False so the checksum
        # collect right below materializes the checkpoint — ONE job per
        # iteration instead of checkpoint-job + checksum-job
        ss = ss.localCheckpoint(eager=False)
        checksum = _edge_checksum(ss)
        if checkpoint_dir:
            path = f"{checkpoint_dir}/iter_{it:04d}"
            ss.write.mode("overwrite").parquet(path)
            _write_metrics(
                spark,
                checkpoint_dir,
                {
                    "iteration": it,
                    "edges": checksum[0],
                    "checksum": checksum[1],
                    "seconds": round(time.time() - t0, 3),
                    "partitions": ss.rdd.getNumPartitions(),
                },
            )
        if checksum == prev_sum:
            cur = ss
            converged = True
            break
        prev_sum = checksum
        cur = ss

    if not converged:
        # exhaustion is NOT convergence: non-star edges would yield wrong
        # entity labels silently. Record it and fail loudly — the caller
        # can resume from the checkpoint with a higher budget. This also
        # covers resuming with start_iter >= max_iterations (zero
        # iterations executed = zero evidence of a fixpoint).
        if checkpoint_dir:
            _write_metrics(
                spark, checkpoint_dir, {"converged": False, "iterations": max_iterations}
            )
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (checksum fixpoint not reached); resume from "
            "checkpoint_dir with a larger max_iterations"
        )
    if checkpoint_dir and converged:
        _write_metrics(spark, checkpoint_dir, {"converged": True, "iterations": it + 1})
        # retention: each iter_* snapshot is a full edge-list copy, and
        # across many runs/resumes they accumulate without bound at scale.
        # The converged snapshot IS the fixpoint — the only state resume
        # ever needs — so every OTHER index is expired, including
        # higher-indexed leftovers of a previous longer run in a reused
        # dir (which latest_checkpoint would otherwise prefer, silently
        # resuming from a stale edge list).
        _expire_iterations(spark, checkpoint_dir, keep=it)

    # after convergence edges form stars; canonical (u, v) has u < v, so
    # u is the component-minimum root and v the member.
    labels = cur.select(F.col("v").alias("member_id"), F.col("u").alias("entity_id"))
    # node set from the checkpointed canonical leaf (NOT the raw edges
    # argument — see the lineage-cut comment above); self-loops were
    # kept in ``raw`` precisely so their nodes still surface here
    all_nodes = (
        raw.select(F.col("u").alias("member_id"))
        .unionAll(raw.select(F.col("v").alias("member_id")))
        .distinct()
    )
    # ONE left join + coalesce assembles the assignment (round 6; was
    # roots-distinct + anti-join + union + anti-join + union — three
    # extra passes over the node set for the same rows). At the star
    # fixpoint a node is either a member of exactly one star (entity =
    # its root), or a root / self-loop-only node that appears in no
    # member slot (entity = itself via the coalesce); roots can't also
    # be members at a fixpoint — large_star would rewire them.
    # truncate lineage: the loop is already eager, but the RESULT's
    # logical plan still embeds the full input-edge lineage (candidate
    # generation, scoring, prior CC runs ...). Callers fan the
    # assignment into several self-joins (public-id mapping, singleton
    # anti-joins, survivorship), and every duplication re-ANALYZES the
    # whole tree — measured minutes of pure driver/Catalyst time on a
    # deep incremental plan. One more small job here makes the
    # assignment a leaf for everything downstream.
    result = (
        all_nodes.join(labels, "member_id", "left")
        .withColumn("entity_id", F.coalesce(F.col("entity_id"), F.col("member_id")))
        .dropDuplicates(["member_id"])
    )
    if checkpoint_dir:
        # a localCheckpoint stores blocks UNREPLICATED on executors: on a
        # real cluster, losing one executor after convergence would make
        # the assignment permanently unrecomputable for every downstream
        # consumer. With a checkpoint dir available the assignment is
        # persisted like the iteration snapshots — durable, and still a
        # plan leaf. The path is UNIQUE per call (not a fixed name with
        # mode=overwrite): the returned DataFrame is a lazy read, and a
        # later run sharing the dir — chained incremental folds — must
        # not clobber the files a previously returned assignment still
        # reads from. Superseded assignment_* dirs are dead once their
        # consumers are done; they accumulate one node-set copy per CC
        # call, so long-lived deployments reclaim them with
        # expire_assignments() at a point where no returned DataFrame is
        # still live (the same contract as Iceberg's expire_snapshots —
        # auto-deleting here would break a caller mid-chain).
        import uuid

        path = f"{checkpoint_dir}/assignment_{uuid.uuid4().hex[:8]}"
        result.write.parquet(path)
        return spark.read.parquet(path)
    return result.localCheckpoint()


def fold_incremental(
    delta_edges: DataFrame,
    existing_assignment: DataFrame,
    **cc_kwargs,
) -> DataFrame:
    """THE incremental fold: connected components over ``delta_edges`` ∪
    the existing assignment's member→entity STAR edges. A star encodes a
    resolved component's connectivity exactly, so the fold (a) leaves
    untouched components as they were, (b) merges components bridged by
    a delta edge, and (c) resolves brand-new nodes — without ever
    regenerating old×old edges. ``delta_edges`` (left_id, right_id) and
    ``existing_assignment`` (member_id, entity_id) must share one id
    space (incremental_link maps the public assignment into the
    internal fid space before calling). Value-checked against a full
    recursive-CC oracle by queries.er_incremental_deterministic."""
    star_edges = existing_assignment.filter(
        F.col("member_id") != F.col("entity_id")
    ).select(
        F.col("entity_id").alias("left_id"), F.col("member_id").alias("right_id")
    )
    return connected_components(delta_edges.unionByName(star_edges), **cc_kwargs)


def _iter_index(name: str) -> int | None:
    if not name.startswith("iter_"):
        return None
    try:
        return int(name.split("_")[1])
    except (IndexError, ValueError):
        return None


def _expire_iterations(spark: SparkSession, checkpoint_dir: str, keep: int) -> None:
    """Delete every iter_* snapshot EXCEPT index ``keep`` (the converged
    fixpoint — the only state a resume ever needs). Higher indices are
    expired too: in a reused dir they are stale leftovers of a previous
    longer run, and keeping them would make latest_checkpoint (max
    index) resume from the wrong run's edges. All I/O goes through the
    Hadoop FileSystem of the dir's scheme, so retention works on
    hdfs:// / s3a:// checkpoint dirs, not only the driver's local disk."""
    for name in fsutil.list_names(spark, checkpoint_dir):
        idx = _iter_index(name)
        if idx is not None and idx != keep:
            fsutil.delete(spark, f"{checkpoint_dir}/{name}")


def expire_assignments(
    spark: SparkSession, checkpoint_dir: str, keep_latest: int = 1
) -> list[str]:
    """Reclaim superseded ``assignment_*`` parquet dirs, keeping the
    ``keep_latest`` most recently written. Each connected_components
    call with a checkpoint dir persists one full (member_id, entity_id)
    copy under a unique name (so chained incremental folds never
    clobber a returned assignment mid-read) — without retention a
    long-running deployment's checkpoint dir grows by a node-set copy
    per delta run. EXPLICIT maintenance, not automatic: the caller
    invokes it when no previously returned assignment DataFrame is
    still being read (the expire_snapshots contract). Returns the
    deleted basenames."""
    dirs = sorted(
        (
            (name, mtime)
            for name, mtime in fsutil.list_status(spark, checkpoint_dir)
            if name.startswith("assignment_")
        ),
        key=lambda nm: nm[1],
        reverse=True,
    )
    dropped = [name for name, _ in dirs[max(keep_latest, 0):]]
    for name in dropped:
        fsutil.delete(spark, f"{checkpoint_dir}/{name}")
    return dropped


def latest_checkpoint(checkpoint_dir: str, spark: SparkSession | None = None) -> int | None:
    """Highest complete (_SUCCESS-marked) iter_* snapshot index, or None.
    Probed through the Hadoop FileSystem — on a remote checkpoint dir a
    driver-local listing would always see "absent" and silently restart
    from scratch instead of resuming."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        # the probe goes through the JVM Hadoop FileSystem (the only
        # way it can see hdfs://s3a:// dirs), which needs a session
        raise RuntimeError(
            "latest_checkpoint requires an active SparkSession (pass "
            "spark=) — checkpoint dirs are probed via the Hadoop "
            "FileSystem, which lives in the JVM"
        )
    its = []
    for name in fsutil.list_names(spark, checkpoint_dir):
        idx = _iter_index(name)
        if idx is not None and fsutil.exists(
            spark, f"{checkpoint_dir}/{name}/_SUCCESS"
        ):
            its.append(idx)
    return max(its) if its else None


def _write_metrics(spark: SparkSession, checkpoint_dir: str, row: dict) -> None:
    fsutil.append_line(spark, f"{checkpoint_dir}/_metrics.jsonl", json.dumps(row))
