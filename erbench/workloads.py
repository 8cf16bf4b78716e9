"""The benchmark's workloads: what one op is, and how its outputs are
checked. Every engine call goes through a public entry point, looked up
on its module at call time so the traced run's wrappers apply."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

from erbench import inputs


@dataclass
class OpResult:
    rows_in: int
    outputs: dict = field(default_factory=dict)
    #: peak summed RSS of the process tree during the op
    peak_rss_mb: float = 0.0


@dataclass
class Check:
    ok: bool
    digest: str
    f1: float
    info: dict = field(default_factory=dict)


class Workload:
    """A workload's session and private work directory. ``traced``: the
    run wraps the layers in spans; it is not measured end to end, so its
    checks may also cost a whole extra pipeline run."""

    name = ""

    def __init__(self, spark, workdir: str, traced: bool = False):
        self.spark = spark
        self.workdir = workdir
        self.traced = traced


class Resolve(Workload):
    """A corpus that arrives in two parts: one full ``run_pipeline`` over
    the base with ``checkpoint_dir`` set, then ``incremental_link`` of
    the delta against the base's features, assignment and signature
    store. The corpus mixes name-borne duplicates (renames,
    near-duplicate stems, same-stem hot blocks above the block cap) with
    content-borne families (identical multi-KB files under unrelated
    names): keyed and sorted-neighborhood blocking, salting, the DP name
    kernel, MinHash/LSH, CC and survivorship all do work, and the delta
    runs the same layers at delta size with the fold-style CC and the
    checkpointed signature-store compaction."""

    name = "resolve"

    def __init__(self, spark, workdir: str, traced: bool = False):
        super().__init__(spark, workdir, traced)
        self._n_ops = 0

    def prepare(self, seed: int, size: str) -> dict:
        inp = inputs.resolve_corpus(seed, size)
        d = os.path.join(self.workdir, "input")
        os.makedirs(d, exist_ok=True)
        mask = np.asarray(inp.is_delta)
        inp.files[~mask].to_parquet(f"{d}/base.parquet", index=False)
        inp.files[mask].to_parquet(f"{d}/delta.parquet", index=False)
        inp.labeled_pairs.to_parquet(f"{d}/labeled_pairs.parquet", index=False)
        return {
            "dir": d,
            "rows": len(inp.files),
            "delta_rows": int(mask.sum()),
            "content_bytes": int(inp.files["content"].str.len().sum()),
            "bridges": inp.bridges,
        }

    def op(self, data: dict) -> OpResult:
        from music_dedupe_spark import pipeline
        from music_dedupe_spark.operators import incremental_er

        self._n_ops += 1
        ck = os.path.join(self.workdir, f"checkpoint-{self._n_ops}")
        cfg = pipeline.PipelineConfig(checkpoint_dir=ck)
        files = self.spark.read.parquet(f"{data['dir']}/base.parquet")
        base = pipeline.run_pipeline(files, cfg)
        # the base's clusters and checkpointed stages feed the delta; its
        # ranked survivors are materialized here
        base["ranked"].write.format("noop").mode("overwrite").save()
        inc = incremental_er.incremental_link(
            self.spark.read.parquet(f"{data['dir']}/delta.parquet"),
            base["features"],
            base["clusters"],
            cfg,
            existing_signatures=base["minhash_sig_store"],
        )
        assignment = [(r["member_id"], r["entity_id"]) for r in inc["clusters"].collect()]
        return OpResult(
            rows_in=data["rows"],
            outputs={
                "files": files, "base": base, "inc": inc, "checkpoint_dir": ck,
                "assignment": assignment,
            },
        )

    def check(self, data: dict, res: OpResult) -> Check:
        from music_dedupe_spark import pipeline

        out = res.outputs
        base, inc = out["base"], out["inc"]
        lp = self.spark.read.parquet(f"{data['dir']}/labeled_pairs.parquet")
        f1 = pipeline.pairwise_f1(inc["clusters"], lp)["f1"]
        sha_ok = pipeline.sha_invariant_ok(pipeline.eligible_files(out["files"]), base["ranked"])
        # the delta hashes exactly its contents the base store lacks
        base_shas = {r[0] for r in base["features"].select("content_sha256").distinct().collect()}
        new_shas = {r[0] for r in inc["features"].select("content_sha256").distinct().collect()}
        n_sigs = inc["metrics"]["n_signatures_computed"]
        # every bridge merges two entities that the base kept apart
        before = dict(r for r in base["clusters"].select("member_id", "entity_id").collect())
        after = dict(out["assignment"])
        n_merged = sum(
            1 for a, c in data["bridges"] if before[a] != before[c] and after[a] == after[c]
        )
        canon = _partition(out["assignment"])
        h = hashlib.sha256()
        for g in canon:
            h.update(("\t".join(g) + "\n").encode())
        ck_bytes = _dir_bytes(out["checkpoint_dir"])
        fresh_ok = True
        if self.traced:
            # the partition after the delta equals a fresh run_pipeline
            # over base ∪ delta (the contract tests/test_incremental_er.py
            # states)
            both = self.spark.read.parquet(
                f"{data['dir']}/base.parquet", f"{data['dir']}/delta.parquet"
            )
            fresh = pipeline.run_pipeline(both, pipeline.PipelineConfig())["clusters"]
            fresh_ok = _partition(fresh.select("member_id", "entity_id").collect()) == canon
        return Check(
            ok=(
                f1 >= 0.99 and sha_ok and n_sigs == len(new_shas - base_shas)
                and n_merged == len(data["bridges"]) and fresh_ok
            ),
            digest=h.hexdigest(),
            f1=f1,
            info={
                "sha_invariant_ok": sha_ok,
                "delta_rows": data["delta_rows"],
                "delta_signatures_computed": n_sigs,
                "delta_new_contents": len(new_shas - base_shas),
                "bridges_merged": n_merged,
                "entities_after_delta": len(canon),
                "fresh_partition_equal": fresh_ok if self.traced else None,
                "checkpoint_bytes": ck_bytes,
                "checkpoint_write_amp": ck_bytes / data["content_bytes"],
            },
        )

    def release(self) -> None:
        # run_pipeline never releases its persists
        self.spark.catalog.clearCache()
        shutil.rmtree(os.path.join(self.workdir, f"checkpoint-{self._n_ops}"), ignore_errors=True)


def _partition(assignment) -> list[list[str]]:
    """The partition of (member_id, entity_id) pairs, independent of
    which member names an entity."""
    groups: dict = {}
    for m, e in assignment:
        groups.setdefault(e, []).append(m)
    return sorted(sorted(g) for g in groups.values())


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, names in os.walk(path) for f in names
    )


#: the registry entries one dedup op runs
DEDUP_ENTRIES = ("dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh")


class DedupDocs(Workload):
    """The three dedup registry entries over a ``documents`` table of
    near-duplicate families, with total text above the LSH entry's
    organic-truth limit so its scale path (canary-only self-assert)
    runs. The only workload that reaches ``operators/dedup.py``."""

    name = "dedup_docs"

    def prepare(self, seed: int, size: str) -> dict:
        inp = inputs.documents(seed)
        d = os.path.join(self.workdir, "input")
        os.makedirs(d, exist_ok=True)
        inp.documents.to_parquet(f"{d}/documents.parquet", index=False)
        return {"dir": d, "rows": len(inp.documents), "truth": inp.truth_pairs}

    def op(self, data: dict) -> OpResult:
        from music_dedupe_spark.operators import dedup

        out = {}
        for entry in DEDUP_ENTRIES:
            df = getattr(dedup, entry)(self.spark, data["dir"])
            out[entry] = (df.columns, [tuple(r) for r in df.collect()])
        return OpResult(rows_in=data["rows"], outputs=out)

    def check(self, data: dict, res: OpResult) -> Check:
        import duckdb

        from music_dedupe_spark.queries import oracle_sql

        sql = oracle_sql()
        parity = {}
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{data['dir']}/documents.parquet'"
            )
            for entry in ("dedup_exact", "dedup_ngram_jaccard"):
                cols, rows = res.outputs[entry]
                cur = con.execute(sql[entry])
                dcols = [d[0] for d in cur.description]
                parity[entry] = sorted(cols) == sorted(dcols) and _normalize(
                    rows, cols
                ) == _normalize(cur.fetchall(), dcols)
        finally:
            con.close()
        cols, rows = res.outputs["dedup_ngram_jaccard"]
        li, ri = cols.index("left_doc"), cols.index("right_doc")
        found = {(min(r[li], r[ri]), max(r[li], r[ri])) for r in rows}
        f1 = _f1(found, data["truth"])
        h = hashlib.sha256()
        for entry in DEDUP_ENTRIES:
            cols, rows = res.outputs[entry]
            for t in _normalize(rows, cols):
                h.update(("\t".join(t) + "\n").encode())
        return Check(
            ok=all(parity.values()) and f1 >= 0.99,
            digest=h.hexdigest(),
            f1=f1,
            info={"oracle_parity": parity, "n_lsh_pairs": len(res.outputs["dedup_minhash_lsh"][1])},
        )

    def release(self) -> None:
        self.spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (Resolve, DedupDocs)}


def _normalize(rows, cols) -> list[tuple]:
    """Column-name-ordered, stringified, float-rounded rows — the same
    normalization the repository's DuckDB parity test applies."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 4)
                if v == -0.0:
                    v = 0.0
                if math.isnan(v):
                    v = "NaN"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def _f1(found: set, truth: set) -> float:
    tp = len(found & truth)
    precision = tp / len(found) if found else 1.0
    recall = tp / len(truth) if truth else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def dp_kernel_pairs_per_s(seed: int, n_pairs: int = 4000, repeats: int = 3) -> float:
    """``name_scores_arrays`` (the DP name kernel) on seeded distinct
    name pairs, in this process with no Spark: median pairs/s."""
    import random
    import statistics
    import time

    from music_dedupe_spark.functions.similarity import name_scores_arrays

    rng = random.Random(seed)
    a = [inputs._word(rng) + "_" + inputs._word(rng) for _ in range(n_pairs)]
    b = [s[: rng.randint(1, len(s))] + inputs._word(rng) for s in a]
    av, bv = np.array(a, dtype=object), np.array(b, dtype=object)
    rates = []
    for _ in range(repeats):
        t = time.perf_counter()
        name_scores_arrays(av, bv)
        rates.append(n_pairs / (time.perf_counter() - t))
    return statistics.median(rates)

