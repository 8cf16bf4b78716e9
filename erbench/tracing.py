"""Spans around the engine's public layer functions, and Spark's own
per-job counts from the in-JVM status store.

A span is the wall time of one call into a wrapped public function. The
returned DataFrame is persisted and counted inside the span, so the
layer's work is charged to the layer and not to whichever later action
happens to run it. Each span runs under its own Spark job group.

Wrappers are installed on the module attributes the engine looks up at
call time (``pipeline`` and ``incremental_er`` call ``blocking.*``,
``scoring.*`` and ``clustering.*`` through module attributes;
``pipeline`` calls ``ingest``, ``rungroup_channel``,
``public_assignment`` and ``rank_survivors`` as its own globals, which
``incremental_link`` imports inside its body; ``fold_incremental`` calls
``connected_components`` as a ``clustering`` global, so a ``cc`` span
nests in ``cc.fold``; ``dedup_minhash_lsh`` imports
``minhash_lsh_pairs`` inside its body), so the engine runs its own
wiring unchanged.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

#: (span name, module path, attribute). Order is irrelevant.
WRAPPED = (
    ("ingest", "music_dedupe_spark.pipeline", "ingest"),
    ("signatures", "music_dedupe_spark.operators.blocking", "minhash_signatures"),
    ("chan.content_sha", "music_dedupe_spark.operators.blocking", "content_sha_star"),
    ("chan.exact_key", "music_dedupe_spark.operators.blocking", "exact_key_pairs"),
    ("chan.rungroup", "music_dedupe_spark.pipeline", "rungroup_channel"),
    ("chan.lsh", "music_dedupe_spark.operators.blocking", "minhash_lsh_pairs"),
    ("candidates", "music_dedupe_spark.operators.blocking", "union_channels"),
    ("scoring", "music_dedupe_spark.operators.scoring", "score_candidates"),
    ("cc", "music_dedupe_spark.operators.clustering", "connected_components"),
    ("cc.fold", "music_dedupe_spark.operators.clustering", "fold_incremental"),
    ("public_ids", "music_dedupe_spark.pipeline", "public_assignment"),
    ("survivorship", "music_dedupe_spark.pipeline", "rank_survivors"),
    ("delta", "music_dedupe_spark.operators.incremental_er", "incremental_link"),
    ("dedup.exact", "music_dedupe_spark.operators.dedup", "dedup_exact"),
    ("dedup.ngram", "music_dedupe_spark.operators.dedup", "dedup_ngram_jaccard"),
    ("dedup.lsh", "music_dedupe_spark.operators.dedup", "dedup_minhash_lsh"),
)
SPAN_NAMES = tuple(name for name, _, _ in WRAPPED)
_AUX_GROUP = "erbench-aux"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = 0
    group: str = ""
    rows_out: int | None = None
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Holds the spans of one process in memory. ``begin``/``end`` mark
    the benchmark's own op spans; ``install`` wraps the engine's layer
    functions for the traced op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self._main = threading.main_thread()
        self.op = 0

    # -- job groups ---------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)

    def _current_group(self) -> str | None:
        return self.spans[self._stack[-1]].group if self._stack else None

    # -- spans ----------------------------------------------------------
    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, start=time.time(), parent=parent, op=self.op, group=f"erbench-{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        return idx

    def end(self, idx: int) -> Span:
        sp = self.spans[idx]
        sp.end = time.time()
        self._stack.remove(idx)
        self._set_group(self._current_group())
        return sp

    # -- layer wrappers --------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            # the LSH self-assert calls minhash_lsh_pairs from a pool
            # thread; its jobs carry no group and are attributed to the
            # enclosing main-thread span by time window instead. Outside
            # an op (the untimed checks) nothing is traced.
            if threading.current_thread() is not tracer._main or not tracer._stack:
                return fn(*args, **kwargs)
            extra = {}
            parent = tracer.spans[tracer._stack[-1]].name if tracer._stack else None
            if name == "cc.fold" or (name == "cc" and parent != "cc.fold"):
                # the CC input edge count (for a fold: the delta's edges,
                # not the existing assignment's stars), counted before the
                # clock starts under a group no span owns
                tracer._set_group(_AUX_GROUP)
                extra["edges_in"] = args[0].count()
                tracer._set_group(tracer._current_group())
            idx = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
                # incremental_link returns a dict of stages: its output
                # is the updated clusters
                df = out.get("clusters") if isinstance(out, dict) else out
                if isinstance(df, DataFrame):
                    # persist() returns the same object, so attributes the
                    # engine hangs on it (_mds_persisted) survive
                    df.persist()
                    tracer.spans[idx].rows_out = df.count()
            finally:
                tracer.end(idx)
            tracer.spans[idx].extra.update(extra)
            return out

        return wrapped

    def install(self) -> None:
        import importlib

        for name, mod_path, attr in WRAPPED:
            mod = importlib.import_module(mod_path)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def to_json(self) -> list[dict]:
        return [
            {
                "id": i, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "op": s.op, "group": s.group,
                "rows_out": s.rows_out, **s.extra,
            }
            for i, s in enumerate(self.spans)
        ]


@dataclass
class JobStats:
    job_id: int
    group: str | None
    submitted: float  # epoch seconds
    busy_s: float = 0.0
    shuffle_write_bytes: int = 0
    failed_tasks: int = 0


class StatusCollector:
    """Reads jobs and stages from Spark's AppStatusStore, which the
    listener fills even with ``spark.ui.enabled=false``. Each stage is
    charged once, to the lowest job id that lists it (later jobs that
    reuse its shuffle output list it as skipped)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._seen_job = -1
        self._charged: set[tuple[int, int]] = set()
        #: every job read so far, in job-id order
        self.jobs: list[JobStats] = []

    def refresh(self) -> None:
        """Appends to ``jobs`` the jobs submitted since the previous
        call, with their stage sums."""
        # the status listener runs asynchronously: drain its queue so the
        # stages of the last action are read complete
        self._bus.waitUntilEmpty()
        jvm = self._jvm
        jobs: dict[int, tuple] = {}
        it = self._store.jobsList(jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self._seen_job:
                continue
            g = j.jobGroup()
            st = j.submissionTime()
            seq = j.stageIds()
            jobs[jid] = (
                g.get() if g.isDefined() else None,
                st.get().getTime() / 1000.0 if st.isDefined() else 0.0,
                [seq.apply(i) for i in range(seq.size())],
            )
        if not jobs:
            return
        stage_of: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid][2]:
                stage_of.setdefault(sid, jid)
        out = {jid: JobStats(jid, g, t) for jid, (g, t, _) in jobs.items()}
        sl = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        it = sl.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid not in stage_of:
                continue
            key = (sid, s.attemptId())
            if key in self._charged:
                continue
            self._charged.add(key)
            js = out[stage_of[sid]]
            js.busy_s += s.executorRunTime() / 1000.0
            js.shuffle_write_bytes += s.shuffleWriteBytes()
            js.failed_tasks += s.numFailedTasks()
        self._seen_job = max(jobs)
        self.jobs.extend(out[j] for j in sorted(out))


def attribute(jobs: list[JobStats], spans: list[Span], span_ids: list[int]) -> dict[int, list[JobStats]]:
    """Map each job to a span: by job group when the group is a span's,
    else (no group: a job from a pool thread) to the innermost of
    ``span_ids`` whose window contains the job's submission. Jobs of
    other groups (auxiliary counts) are dropped."""
    by_group = {spans[i].group: i for i in span_ids}
    out: dict[int, list[JobStats]] = {i: [] for i in span_ids}
    for j in jobs:
        if j.group is not None:
            if j.group in by_group:
                out[by_group[j.group]].append(j)
            continue
        inside = [i for i in span_ids if spans[i].start <= j.submitted <= spans[i].end]
        if inside:
            # innermost = latest start among the containing windows
            out[max(inside, key=lambda i: spans[i].start)].append(j)
    return out
