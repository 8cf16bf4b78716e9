"""End-to-end record-linkage pipeline: ingest → block → score → cluster
→ survivorship (SURVEY §3 EP1-EP3 re-expressed, §7 Stage 1).

Every stage returns a DataFrame; ``run_pipeline`` wires them and
optionally checkpoints each stage to parquet (the analog of the
reference's per-100-row SQLite commits, core.py:655-663; each stage is
a plain overwrite write).

Two id spaces (round-4 scaling change): the PUBLIC ``file_id`` (128-bit
hex string) identifies rows in every returned stage output, while the
pair-volume stages — blocking, scoring, connected components — run on
the INTERNAL 8-byte ``fid`` (= xxhash64(file_id), a pure projection;
see functions/text.py for the collision math). ``pair_view`` enters
the internal space; ``public_assignment`` / ``public_pairs`` leave it
at the output boundary. Pair volume dwarfs row volume, so this cuts
the bytes moved by every pair exchange, join probe, and Arrow batch
~4x — the round-3 scaling decomposition measured exactly those joins
as the memory-bandwidth-bound stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from music_dedupe_spark.functions.text import (
    SUPPORTED_LANGS,
    is_junk_col,
    with_derived_columns,
)
from music_dedupe_spark.operators import blocking, clustering, rungroup, scoring
from music_dedupe_spark.operators.scoring import ScoringConfig
from music_dedupe_spark.operators.survivorship import rank_survivors


@dataclass
class PipelineConfig:
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    block_cap: int = 64
    rungroup_threshold: int = 85
    use_lsh: bool = True
    minhash_num_perm: int = 128
    minhash_bands: int = 32
    shingle_k: int = 7
    checkpoint_dir: str | None = None
    resume: bool = False
    # set by run_pipeline (features.count()); callers may pre-set to skip
    n_rows_hint: int | None = None
    # assert that the 64-bit internal ids (fid = xxhash64(file_id)) are
    # collision-free for this corpus (one extra countDistinct agg over
    # the narrow fid column). Default off: expected collisions are
    # n^2/2^65 (~3e-12 at 10^7 rows) and at 10^12 rows ~27k collisions
    # are EXPECTED and accepted (2.7e-8 spurious-merge rate, immaterial
    # vs the F1>=0.99 criterion) — a hard assert would make the pipeline
    # un-runnable at exactly the scale it targets. Enable for smaller
    # corpora where zero collisions should hold.
    check_fid_collisions: bool = False
    # scale ceiling for the exact sorted-neighborhood channel (J1): its
    # carry-propagation fixpoint collects one summary row per ~50k-row
    # partition per round — O(n / 50k) driver rows, i.e. ~2e7 rows at
    # 1e12 files. Above this corpus size the channel is skipped and the
    # MinHash-LSH channel (fixed-width, fully distributed) carries the
    # fuzzy recall instead; the F1 criterion is measured at the
    # reference blocking key, which exact_key_pairs still covers.
    rungroup_max_rows: int = 100_000_000


def eligible_files(files: DataFrame) -> DataFrame:
    """S1 scan predicate (the reference scans only supported audio
    formats and skips junk, core.py:585-590): supported langs, non-junk
    filenames. Pushed into the parquet/Iceberg scan by Catalyst."""
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    return files.filter(F.col("lang").isin(*SUPPORTED_LANGS) & ~is_junk_col(fname))


def ingest(files: DataFrame) -> DataFrame:
    """S1+S2: scan filter + one columnar derive pass. The content column
    passes through untouched — content_sha256 multiset equality vs the
    eligible input is the per-row invariant (BASELINE.json input_hint),
    asserted stage-by-stage in tests/test_pipeline_e2e.py.

    (Round 6 measured rejection: a scale-adaptive parallelism floor —
    repartition single-file scans to defaultParallelism before the
    derive pass, after the guide's "unsplittable input" remedy — was
    tried here and REVERTED: interleaved A/B showed er_pipeline 28-29 s
    with the floor vs 13-16 s without at sf0.1; the serialized derive
    kernel it parallelizes is far cheaper than the 32-way task fan-out
    it forces on every downstream stage, and at real multi-split scale
    the floor is a no-op anyway.)"""
    return with_derived_columns(eligible_files(files))


def pair_view(features: DataFrame) -> DataFrame:
    """The INTERNAL-id projection of the features table: the 8-byte
    ``fid`` takes the ``file_id`` slot, so every pair-stage exchange,
    join probe, and Arrow batch moves longs instead of 32-char strings
    (pair volume >> row volume — bytes-per-pair is the measured
    bandwidth lever at scale). Public string ids rejoin the outputs at
    the boundary via ``public_assignment`` / ``public_pairs``."""
    return features.drop("file_id").withColumnRenamed("fid", "file_id")


def public_assignment(assignment: DataFrame, features: DataFrame) -> DataFrame:
    """Map an internal-id (fid) CC assignment back to public string ids:
    (member_id, entity_id) strings, with entity_id re-labeled as the
    component's MINIMUM member file_id (the documented deterministic
    representative — fid order is not string order, so the CC's
    min-fid root is only a component key here, never exposed).
    Cost: two narrow row-count joins + one per-component aggregate —
    linear, at the output boundary only."""
    id_map = features.select(F.col("fid").alias("member_id"), "file_id")
    m = assignment.join(id_map, "member_id").select(
        F.col("file_id").alias("_member"), F.col("entity_id").alias("_comp")
    )
    reps = m.groupBy("_comp").agg(F.min("_member").alias("_entity"))
    return m.join(reps, "_comp").select(
        F.col("_member").alias("member_id"), F.col("_entity").alias("entity_id")
    )


def public_pairs(pairs: DataFrame, features: DataFrame) -> DataFrame:
    """Lazy output-boundary view of a fid-keyed pair stage with public
    string ids restored. Only consumers of the pair-level outputs pay
    the two id-map joins; the internal flow stays on longs. The pair is
    RE-CANONICALIZED to left_id < right_id in STRING order (internal
    canonical order is fid order, which disagrees with string order for
    ~half the pairs) — safe because every per-pair column (channel,
    scores, is_dup) is orientation-symmetric."""
    rest = [c for c in pairs.columns if c not in ("left_id", "right_id")]
    lm = features.select(F.col("fid").alias("left_id"), F.col("file_id").alias("_l"))
    rm = features.select(F.col("fid").alias("right_id"), F.col("file_id").alias("_r"))
    return (
        pairs.join(lm, "left_id")
        .join(rm, "right_id")
        .select(
            F.least("_l", "_r").alias("left_id"),
            F.greatest("_l", "_r").alias("right_id"),
            *rest,
        )
    )


def rungroup_channel(
    features: DataFrame, cfg: PipelineConfig, n_rows: int
) -> DataFrame | None:
    """The sorted-neighborhood candidate channel (J1), or None when the
    corpus exceeds ``cfg.rungroup_max_rows`` (the channel's sequential
    scan ceiling — the LSH channel carries fuzzy recall above it).

    ONE implementation shared by the batch pipeline and
    incremental_link: the incremental's label-identical-to-full-rerun
    contract requires both paths to compute this channel with the same
    gate, threshold, partition sizing, and group cap — a drift between
    two copies would silently break the equality property.

    Sizing: ~50k rows per sequential partition pass (Python O(rows)
    per partition), clamped to the shuffle width.
    """
    if n_rows > cfg.rungroup_max_rows:
        return None
    shuffle_n = int(features.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rg_parts = min(shuffle_n, max(1, n_rows // 50_000 + 1))
    rg = rungroup.sorted_run_groups(
        features,
        key_col="norm_name",
        threshold=cfg.rungroup_threshold,
        num_partitions=rg_parts,
    )
    return (
        rungroup.group_pairs(rg, max_group_size=cfg.block_cap)
        .withColumn("channel", F.lit("sorted_neighborhood"))
        .select("left_id", "right_id", "channel")
    )


def generate_candidates(
    features: DataFrame, cfg: PipelineConfig, minhash_sigs: DataFrame | None = None
) -> DataFrame:
    """Union of the three blocking channels + the sorted-neighborhood
    run-group channel (J1). Output (left_id, right_id, channel).
    ``minhash_sigs``: optional precomputed (file_id, sig) signatures for
    the LSH channel (run_pipeline passes its signature store)."""
    channels = [
        blocking.content_sha_star(features),
        blocking.exact_key_pairs(features, cap=cfg.block_cap),
    ]
    # An unset hint is COUNTED, not assumed small — skipping the gate for
    # unknown sizes would default huge corpora into the non-scaling
    # channel (run_pipeline always pre-sets the hint; this count only
    # fires for direct generate_candidates callers).
    n_rows = cfg.n_rows_hint
    if n_rows is None:
        n_rows = features.count()
    rg = rungroup_channel(features, cfg, n_rows)
    if rg is not None:
        channels.append(rg)
    if cfg.use_lsh:
        channels.append(
            blocking.minhash_lsh_pairs(
                features,
                num_perm=cfg.minhash_num_perm,
                bands=cfg.minhash_bands,
                shingle_k=cfg.shingle_k,
                sigs=minhash_sigs,
            )
        )
    return blocking.union_channels(*channels)


def run_pipeline(files: DataFrame, cfg: PipelineConfig | None = None) -> dict[str, DataFrame]:
    """Returns the stage DataFrames: features, candidate_pairs,
    scored_pairs, matched_pairs, clusters, ranked (survivorship)."""
    cfg = cfg or PipelineConfig()
    features = ingest(files)
    if cfg.checkpoint_dir:
        _checkpoint(features, f"{cfg.checkpoint_dir}/stage0_features")
        features = files.sparkSession.read.parquet(f"{cfg.checkpoint_dir}/stage0_features")
    else:
        # each downstream stage (4 blocking channels, scoring join, CC
        # loop, survivorship) re-reads features: persist once
        features = features.persist()

    if cfg.n_rows_hint is None:
        cfg.n_rows_hint = features.count()  # also materializes the persist
    if cfg.check_fid_collisions:
        r = features.agg(
            F.count("*").alias("n"), F.count_distinct("fid").alias("d")
        ).collect()[0]
        if int(r["n"]) != int(r["d"]):
            raise RuntimeError(
                f"internal 64-bit id collision: {int(r['n'])} rows but only "
                f"{int(r['d'])} distinct fids (expected at >~10^9 rows; see "
                "PipelineConfig.check_fid_collisions)"
            )

    # all pair-volume stages run in the INTERNAL 8-byte id space
    pv = pair_view(features)

    # MinHash signature store: signatures are deterministic per content
    # for fixed (num_perm, shingle_k, seed), so they are computed ONCE
    # here, fed to the LSH channel, and returned keyed by content_sha256
    # — the table incremental_link reads so a delta run hashes only the
    # delta's content (O(|new|), not O(corpus); VERDICT r2 missing #3).
    # ~1 KB/row (128 longs): parquet-checkpointed when a dir is given,
    # else persisted alongside features.
    sig_store = None
    minhash_sigs = None
    if cfg.use_lsh:
        # the sha rides THROUGH the kernel (passthrough), so the store is
        # a pure projection of the signature pass — no join back and no
        # shuffle of the content column. dropDuplicates here moves only
        # (sha, 1KB sig) rows.
        sigs = blocking.minhash_signatures(
            pv,
            cfg.minhash_num_perm,
            cfg.shingle_k,
            seed=1,
            passthrough=("content_sha256",),
        )
        if cfg.checkpoint_dir:
            _checkpoint(sigs, f"{cfg.checkpoint_dir}/minhash_sigs")
            sigs = files.sparkSession.read.parquet(f"{cfg.checkpoint_dir}/minhash_sigs")
        else:
            # consumed by both the LSH banding and the returned store;
            # stays persisted for the session (like features) so the
            # caller's store handle never re-runs the kernel
            sigs = sigs.persist()
        sig_store = sigs.select("content_sha256", "sig").dropDuplicates(
            ["content_sha256"]
        )
        minhash_sigs = sigs.select("file_id", "sig")

    candidate_pairs = generate_candidates(pv, cfg, minhash_sigs=minhash_sigs)
    # operators may persist expensive shared subplans (minhash banded
    # signatures) and hand back the handles; release them once the
    # candidate stage is materialized below
    _cand_deps = getattr(candidate_pairs, "_mds_persisted", [])
    if cfg.checkpoint_dir:
        _checkpoint(candidate_pairs, f"{cfg.checkpoint_dir}/stage1_candidates")
        candidate_pairs = files.sparkSession.read.parquet(
            f"{cfg.checkpoint_dir}/stage1_candidates"
        )
    else:
        candidate_pairs = candidate_pairs.persist()
        candidate_pairs.count()  # materialize before dropping the deps
    for _d in _cand_deps:
        _d.unpersist()

    scored = scoring.score_candidates(candidate_pairs, pv, cfg.scoring)
    if cfg.checkpoint_dir:
        _checkpoint(scored, f"{cfg.checkpoint_dir}/stage2_scored")
        scored = files.sparkSession.read.parquet(f"{cfg.checkpoint_dir}/stage2_scored")
    else:
        scored = scored.persist()

    matched = scoring.matched_pairs(scored).persist()
    assignment = public_assignment(
        clustering.connected_components(
            matched,
            checkpoint_dir=f"{cfg.checkpoint_dir}/cc" if cfg.checkpoint_dir else None,
            resume=cfg.resume,
        ),
        features,
    )
    # singletons: files that matched nothing keep their own id — ONE
    # left join + coalesce over the feature ids (round 6; the anti-join
    # + union form walked the feature table twice for the same rows)
    all_assign = (
        features.select(F.col("file_id").alias("member_id"))
        .join(assignment, "member_id", "left")
        .withColumn(
            "entity_id", F.coalesce(F.col("entity_id"), F.col("member_id"))
        )
    ).persist()
    ranked = rank_survivors(
        features.join(
            all_assign, features["file_id"] == all_assign["member_id"]
        ).drop("member_id")
    )
    return {
        "features": features,
        # pair-level stages are persisted/checkpointed in the internal
        # fid space; the dict exposes lazy public-id views (the id-map
        # joins run only when a caller consumes these outputs)
        "candidate_pairs": public_pairs(candidate_pairs, features),
        "scored_pairs": public_pairs(scored, features),
        "matched_pairs": public_pairs(matched, features),
        "clusters": all_assign,
        "ranked": ranked,
        # (content_sha256, sig) — None when use_lsh=False; feed this to
        # incremental_link(existing_signatures=...) so delta runs skip
        # re-hashing the existing corpus
        "minhash_sig_store": sig_store,
    }


def _checkpoint(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Evaluation helpers (test harness; FIXTURES.md §5)
# ---------------------------------------------------------------------------


def pairwise_f1(clusters: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Pairwise F1 on labeled pairs: predicted-positive = both members in
    the same cluster."""
    a = clusters.select(
        F.col("member_id").alias("left_id"), F.col("entity_id").alias("_el")
    )
    b = clusters.select(
        F.col("member_id").alias("right_id"), F.col("entity_id").alias("_er")
    )
    joined = (
        labeled_pairs.join(a, "left_id", "left")
        .join(b, "right_id", "left")
        .withColumn(
            "pred",
            F.col("_el").isNotNull() & (F.col("_el") == F.col("_er")),
        )
    )
    agg = joined.agg(
        F.sum(F.when(F.col("is_duplicate") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_duplicate") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_duplicate") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"]), int(agg["fp"]), int(agg["fn"])
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}


def sha_invariant_ok(input_df: DataFrame, stage_df: DataFrame) -> bool:
    """content sha256 multiset equality between input and a stage
    (BASELINE.json input_hint per-row invariant)."""
    def digest(df: DataFrame):
        return (
            df.select(F.sha2(F.col("content"), 256).alias("h"))
            .groupBy("h")
            .agg(F.count("*").alias("n"))
            .agg(
                F.count("*").alias("k"),
                F.coalesce(
                    F.sum(F.pmod(F.xxhash64("h", "n"), F.lit(1_000_000_007))), F.lit(0)
                ).alias("x"),
            )
            .collect()[0]
        )

    a, b = digest(input_df), digest(stage_df)
    return (a["k"], a["x"]) == (b["k"], b["x"])
