#!/usr/bin/env python
"""Benchmark harness (driver contract + north-rule scaling evidence).

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "pairs_per_sec": ..., "config": ...}.

``python bench.py --scaling``: the sandbox substitution for the
N -> 4N executor criterion (BASELINE.md): re-runs the flagship
pipeline in two subprocesses at local[n/4] and local[n] on the SAME
input and reports candidate-pairs-scored/sec at both + the scaling
efficiency (throughput_n / throughput_n/4) / 4, target >= 0.8.

n is the host's core count (``session.DEFAULT_CPUS``);
SPARK_GRAFT_CPUS overrides it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from music_dedupe_spark.session import DEFAULT_CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = DEFAULT_CPUS
#: the two levels of the N -> 4N probe: local[n/4] -> local[n]
SCALING_LO, SCALING_HI = max(1, int(CPUS) // 4), int(CPUS)

HEADLINE_RELATIONAL = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "a2_survivorship",
    "j4_anti_join",
    "w1_sessionize",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "dedup_minhash_lsh",
]


def _run_pipeline(spark, sf_dir):
    """Flagship ER pipeline; returns (seconds, n_pairs_scored, n_clusters)."""
    import __spark_entry__ as entry_mod
    from music_dedupe_spark.pipeline import PipelineConfig, run_pipeline

    files = entry_mod.documents_as_files(spark, sf_dir)
    t0 = time.time()
    out = run_pipeline(files, PipelineConfig())
    n_pairs = out["scored_pairs"].count()
    n_clusters = out["clusters"].select("entity_id").distinct().count()
    return time.time() - t0, n_pairs, n_clusters


def run_bench(cpus: str, sf_dir: str) -> dict:
    from music_dedupe_spark.operators import blocking
    from music_dedupe_spark.session import get_spark

    spark = get_spark("bench", cpus=cpus)
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    timings: dict[str, float] = {}

    # warm the JVM/Arrow path once (excluded from timings): the parquet
    # reader JIT, AND one pass through our own Arrow kernel so the
    # Python daemon workers are spawned and numpy/pandas are imported
    # in them — otherwise the first pandas-UDF query pays ~2-4 s of
    # process spawn that has nothing to do with its plan.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from music_dedupe_spark.functions.similarity import name_scores_udf
    from pyspark.sql import functions as F

    spark.range(2000).select(
        name_scores_udf(
            F.concat(F.lit("warm "), F.col("id").cast("string")),
            F.lit("warm 1"),
        )
    ).count()

    for name in HEADLINE_RELATIONAL:
        t0 = time.time()
        rows = qs[name](spark, sf_dir).collect()
        timings[name] = round(time.time() - t0, 3)
        del rows

    pipe_sec, n_pairs, n_clusters = _run_pipeline(spark, sf_dir)
    timings["er_pipeline"] = round(pipe_sec, 3)

    # same-session hardware calibration (~11 s, AFTER the timed queries):
    # this VM's absolute speed drifts by the day, so every headline JSON
    # carries the multiprocessing scoring-kernel ceiling measured the
    # same minute — cross-round comparisons normalize against it instead
    # of guessing whether a delta is code or host drift.
    hw = _hardware_ceiling()

    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": int(cpus),
        "pairs_scored": n_pairs,
        "n_clusters": n_clusters,
        "pairs_per_sec": round(n_pairs / pipe_sec, 2) if pipe_sec else None,
        "hw_ceiling_pairs_per_sec": hw,
        "config": {
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
            "spark.sql.adaptive.skewJoin.enabled": spark.conf.get(
                "spark.sql.adaptive.skewJoin.enabled"
            ),
            "arrow.maxRecordsPerBatch": spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"
            ),
            "block_cap": blocking.BLOCK_CAP,
            "minhash": f"{blocking.NUM_PERM} perms / {blocking.BANDS} bands",
        },
    }


SCALING_WINDOW = 8000  # neighborhood width -> ~32M candidate pairs at sf0.1
# (large enough that per-job fixed costs amortize: at the 10M-pair size
# local[8] already ran within 8% of the raw kernel rate, so the N->4N
# ratio was capped by the ~4s fixed floor, not by the job)


def prepare_scaling_input(sf_dir: str, work_dir: str) -> int:
    """Materialize the probe input ONCE: features + a dense windowed
    candidate-pair set (|doc_id_l - doc_id_r| <= W within lang) from the
    sf corpus. Both parallelism levels then score the SAME pairs —
    exactly the metric's unit of work (candidate-pairs-scored/sec).

    The probe corpus carries REALISTIC name-bearing paths: the blocking
    key is synthesized from the document's own leading words plus the
    doc number (~18-25 chars), matching the reference blocking key's
    length distribution (music titles / real-world filenames), not a
    9-char synthetic id. Key length sets the DP kernel's share of
    per-pair work (the DP is O(len^2)), so an unrealistically short key
    under-weights exactly the work the metric is defined over."""
    from pyspark.sql import functions as F

    from music_dedupe_spark.session import get_spark
    from music_dedupe_spark.pipeline import ingest

    spark = get_spark("bench-scaling-prep", cpus=CPUS)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    files = docs.select(
        F.col("source").alias("repo"),
        F.format_string(
            "docs/%s_doc%05d.txt",
            F.concat_ws("_", F.slice(F.split(F.col("text"), " "), 1, 3)),
            F.col("doc_id"),
        ).alias("path"),
        F.sha2(F.col("doc_id").cast("string"), 256).substr(1, 40).alias("commit"),
        F.lit("txt").alias("lang"),
        F.col("text").alias("content"),
    )
    feats = ingest(files)
    # replicate the input 3x so each timed run is ~3x longer (the ratio
    # was previously capped by the ~4 s per-job fixed floor: session +
    # stage scheduling, which does not shrink with cores and biases the
    # N->4N ratio low) — but with PERTURBED ids and names per replica:
    # the scoring kernel factorizes the DISTINCT (name_l, name_r) pairs
    # of each Arrow batch, so verbatim-replicated pairs that co-locate in
    # a batch would skip the DP kernel and inflate pairs/s relative to
    # unique-pair work. A per-replica name suffix keeps every replicated
    # row distinct after factorization, so reported throughput is honest
    # unique-pair throughput.
    # length-preserving name perturbation ('doc' -> 'd1c' / 'd2c'): a
    # suffix would lengthen every name and loosen the levenshtein ship
    # gate (threshold scales with |l|+|r|), silently changing the probe's
    # work mix (more gate survivors, more jaccard) between rounds.
    replicas = [feats]
    for rep in (1, 2):
        replicas.append(
            feats.withColumn("file_id", F.concat("file_id", F.lit(f"#r{rep}")))
            .withColumn(
                "norm_name",
                F.regexp_replace("norm_name", "_doc(\\d+)$", f"_d{rep}c$1"),
            )
        )
    feats_all = replicas[0]
    for rf in replicas[1:]:
        feats_all = feats_all.unionByName(rf)
    # mirror the production pipeline's id space: pair stages run on the
    # 8-byte internal fid (= xxhash64(file_id)), so the probe's features
    # and pairs are materialized fid-keyed — the scored exchanges, join
    # probes and Arrow batches move longs exactly as run_pipeline's do.
    # fid is recomputed AFTER the replica perturbation (replica file_ids
    # differ, so their fids must too).
    from music_dedupe_spark.pipeline import pair_view

    feats_all = feats_all.withColumn("fid", F.xxhash64("file_id"))
    pair_view(feats_all).write.mode("overwrite").parquet(f"{work_dir}/features")
    ids = feats_all.select(
        F.regexp_extract("path", r"doc(\d+)\.txt$", 1).cast("long").alias("n"), "file_id"
    ).filter(~F.col("file_id").contains("#r"))
    l = ids.select(F.col("n").alias("nl"), F.col("file_id").alias("left_id"))
    r = ids.select(F.col("n").alias("nr"), F.col("file_id").alias("right_id"))
    base_pairs = (
        l.join(r, (F.col("nr") > F.col("nl")) & (F.col("nr") <= F.col("nl") + SCALING_WINDOW))
        .select("left_id", "right_id")
    )
    pairs = base_pairs
    for rep in (1, 2):
        pairs = pairs.union(
            base_pairs.select(
                F.concat("left_id", F.lit(f"#r{rep}")).alias("left_id"),
                F.concat("right_id", F.lit(f"#r{rep}")).alias("right_id"),
            )
        )
    # into the internal id space (see feats_all above)
    pairs = pairs.select(
        F.xxhash64("left_id").alias("left_id"), F.xxhash64("right_id").alias("right_id")
    )
    pairs = pairs.repartition(128)
    pairs.write.mode("overwrite").parquet(f"{work_dir}/pairs")
    n = spark.read.parquet(f"{work_dir}/pairs").count()
    spark.stop()
    return n


def _subprocess_scoring(cpus: str, work_dir: str, runs: int = 4, reuse: bool = True) -> dict:
    """Score the materialized pair set at local[cpus] in a fresh process
    (one SparkContext per JVM). Runs the job ``runs`` times and reports
    the median of the steady-state (non-first) runs — this VM's wall
    times vary +-30% and the first run pays python-worker spawn + JIT.

    ``reuse``: spark.python.worker.reuse. True is the measurement-honest
    default: with reuse off, EVERY task of EVERY run pays a fresh python
    worker spawn + numpy import, a fixed per-task cost that does not
    shrink with cores and contaminates the N->4N ratio. The rare
    stuck-worker hang reuse can trigger is contained by the 900 s
    timeout + retry below."""
    code = (
        "import json,sys,time,statistics; sys.path.insert(0, %r)\n"
        "from music_dedupe_spark.session import get_spark\n"
        "from music_dedupe_spark.operators import scoring\n"
        "spark = get_spark('bench-scaling', cpus=%r, extra_conf={\n"
        "    'spark.python.worker.reuse': %r,\n"
        "    'spark.python.worker.faulthandler.enabled': 'true'})\n"
        "feats = spark.read.parquet(%r + '/features')\n"
        "pairs = spark.read.parquet(%r + '/pairs')\n"
        "pairs.count(); feats.count()  # warm FS cache + JVM\n"
        "secs, n = [], 0\n"
        "for _ in range(%d):\n"
        "    t0 = time.time()\n"
        "    scored = scoring.score_candidates(pairs, feats)\n"
        "    # aggregate over every score column so Catalyst cannot prune\n"
        "    # any of the similarity kernels out of the probe\n"
        "    row = scored.selectExpr('count(*) n', 'sum(fuzz_key) a', 'sum(jw) b', "
        "'sum(norm_lev) c', 'sum(jaccard) d', 'sum(cast(is_dup as int)) e').collect()[0]\n"
        "    n = row['n']\n"
        "    secs.append(time.time() - t0)\n"
        "print('BENCH_RESULT ' + json.dumps("
        "{'sec': statistics.median(secs[1:]), 'first_sec': secs[0], 'all': secs, 'pairs': n}))\n"
    ) % (REPO, cpus, "true" if reuse else "false", work_dir, work_dir, runs)
    last_err = ""
    for attempt in range(2):
        try:
            out = subprocess.run(
                [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
            )
        except subprocess.TimeoutExpired:
            last_err = "timeout after 900s"
            continue
        for line in out.stdout.splitlines():
            if line.startswith("BENCH_RESULT "):
                return json.loads(line[len("BENCH_RESULT "):])
        last_err = f"{out.stdout[-2000:]}\n{out.stderr[-4000:]}"
    raise RuntimeError(f"scaling subprocess failed twice:\n{last_err}")


def _hardware_ceiling(lo: int = SCALING_LO, hi: int = SCALING_HI) -> dict:
    """This sandbox substitutes local[N]/local[4N] on ONE machine for the
    N-vs-4N-executor criterion — but a single box shares one memory
    system, so even PURE multiprocess numpy cannot scale 4x. Measure
    that ceiling with the scoring kernel itself (no Spark): it is the
    denominator for the normalized efficiency."""
    import multiprocessing as mp

    def agg(n):
        with mp.Pool(n) as p:
            return sum(p.map(_kernel_rate, range(n)))

    r_lo, r_hi = agg(lo), agg(hi)
    return {
        f"kernel_pairs_per_sec_{lo}proc": round(r_lo),
        f"kernel_pairs_per_sec_{hi}proc": round(r_hi),
        "hw_scaling_ratio": round(r_hi / r_lo, 3),
    }


def _kernel_rate(seed: int) -> float:
    import random
    import time as _t

    from music_dedupe_spark.functions.similarity import _batch_dp

    rng = random.Random(seed)
    A = [f"util_handler_{rng.randrange(9999)}_{rng.randrange(99)}" for _ in range(5000)]
    B = [f"util_handler_{rng.randrange(9999)}_{rng.randrange(99)}" for _ in range(5000)]
    t0 = _t.time()
    total = 0
    while _t.time() - t0 < 5:
        _batch_dp(A, B, 2)
        _batch_dp(A, B, 1)
        total += 5000
    return total / (_t.time() - t0)


def run_scaling(sf_dir: str) -> dict:
    """The N→4N probe. SPARK_GRAFT_SCALING_LEVELS="lo,hi" (default
    "n/4,n") picks the two parallelism levels — the north rule fixes the
    RATIO at 4x, not the absolute N, and on one box the low end's
    memory-bandwidth saturation depends on N (local[4]→local[16] probes
    a regime where the shared memory system is not already the
    bottleneck at N; see BENCH/BASELINE.md)."""
    import statistics
    import tempfile

    work_dir = tempfile.mkdtemp(prefix="bench_scaling_")
    n_pairs = prepare_scaling_input(sf_dir, work_dir)
    lo, hi = os.environ.get(
        "SPARK_GRAFT_SCALING_LEVELS", f"{SCALING_LO},{SCALING_HI}"
    ).split(",")
    # ALTERNATE the two levels over two rounds and pool the steady-state
    # runs: this VM's wall times drift +-30% over minutes, and measuring
    # the levels back-to-back in one window each would fold that drift
    # straight into the ratio. Each subprocess's first run (worker spawn
    # + JIT) is discarded.
    runs_lo: list[float] = []
    runs_hi: list[float] = []
    pairs_cnt = n_pairs
    for _ in range(2):
        r_lo = _subprocess_scoring(lo, work_dir, runs=3)
        runs_lo.extend(r_lo["all"][1:])
        pairs_cnt = r_lo["pairs"]
        r_hi = _subprocess_scoring(hi, work_dir, runs=3)
        runs_hi.extend(r_hi["all"][1:])
    hw = _hardware_ceiling(int(lo), int(hi))

    def _trimmed_median(runs: list[float]) -> float:
        # this VM occasionally stalls a run 1.5-2x (host neighbors); a
        # stalled run is contamination, not job time. Reject runs >1.5x
        # the fastest, then take the median of what remains — all raw
        # runs are still reported alongside.
        keep = [r for r in runs if r <= 1.5 * min(runs)]
        return statistics.median(keep)

    sec_lo = _trimmed_median(runs_lo)
    sec_hi = _trimmed_median(runs_hi)
    tp_lo = pairs_cnt / sec_lo
    tp_hi = pairs_cnt / sec_hi
    ratio = tp_hi / tp_lo
    eff = ratio / (int(hi) / int(lo))
    return {
        "sf": sf_dir,
        "metric": "candidate_pairs_scored_per_sec",
        "n_pairs": n_pairs,
        f"local{lo}": {"sec": round(sec_lo, 2), "pairs_per_sec": round(tp_lo, 1), "runs": runs_lo},
        f"local{hi}": {"sec": round(sec_hi, 2), "pairs_per_sec": round(tp_hi, 1), "runs": runs_hi},
        f"scaling_ratio_{lo}_to_{hi}": round(ratio, 3),
        "scaling_efficiency": round(eff, 3),
        "hardware_ceiling": hw,
        "normalized_efficiency": round(ratio / hw["hw_scaling_ratio"], 3),
        "note": (
            f"single-box substitution: local[{lo}]->local[{hi}] shares one "
            "memory bus; hardware_ceiling is the same kernel under plain "
            "multiprocessing — the max any job could scale here. On a real "
            "N->4N executor cluster memory bandwidth scales with nodes."
        ),
    }


def main():
    if "--scaling" in sys.argv:
        res = run_scaling(SF_DIR)
        print(json.dumps(res))
        return
    print(json.dumps(run_bench(CPUS, SF_DIR)))


if __name__ == "__main__":
    main()
