"""Seeded entity-resolution benchmark: one process = one run.

    python3 erbench/run.py --workload resolve --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` in this process, starts
a Spark session sized to the host (``local[<cores>]``, heap from
``MemTotal``, private ``SPARK_LOCAL_DIRS``), then times ops back to back
on one driver thread (closed loop, one client) until ``--seconds`` have
passed, checks every op's outputs, and prints one JSON object as the
last line of standard output. With ``--trace 1`` every layer is wrapped
in a span during the ops, and the per-layer metrics are printed instead;
the spans go to ``.erbench/trace-<workload>-<seed>.json``. See
README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: share of MemTotal given to the driver heap (the only JVM in local mode)
HEAP_SHARE = 0.2


def host_config() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, int(mem_kb * HEAP_SHARE / 1024 / 1024))
    return {
        "cores": cores,
        "mem_total_gb": round(mem_kb / 1024 / 1024, 2),
        "driver_mem": f"{heap_gb}g",
        "shuffle_partitions": cores,
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "small"), default="full",
        help="input size; 'small' is for the self-tests",
    )
    return ap.parse_args(argv)


class OpLoop:
    """Closed-loop op timing: ops back to back until ``seconds`` have
    passed (at least one). An op fails when it raises, when its output
    check fails or raises, or when its output digest differs from the
    first op's on the same input."""

    def __init__(self, run_op, check, seconds: float):
        self.run_op, self.check, self.seconds = run_op, check, seconds
        self.times: list[float] = []
        self.rates: list[float] = []
        self.rss_mb: list[float] = []
        self.f1: list[float] = []
        self.digests: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.checks: list = []

    def one(self):
        """Run and check one op; returns the OpResult, or None if the op
        failed."""
        self.attempted += 1
        try:
            t = time.perf_counter()
            res = self.run_op()
            wall = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        try:
            chk = self.check(res)
        except Exception:
            traceback.print_exc()
            chk = None
        ok = chk is not None and chk.ok and (not self.digests or chk.digest == self.digests[0])
        if chk is not None:
            self.checks.append(chk)
            self.digests.append(chk.digest)
        if not ok:
            print(f"erbench: op {self.attempted} failed its output check: {chk}", file=sys.stderr)
            self.failed += 1
            return None
        self.times.append(wall)
        self.rates.append(res.rows_in / wall)
        self.rss_mb.append(res.peak_rss_mb)
        self.f1.append(chk.f1)
        return res

    def run(self) -> None:
        start = time.perf_counter()
        while True:
            self.one()
            if time.perf_counter() - start >= self.seconds:
                return


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "music_dedupe_spark")):
        print(f"erbench: no music_dedupe_spark package under {ROOT}", file=sys.stderr)
        return 2
    from erbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"erbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cfg = host_config()
    work = os.path.join(ROOT, ".erbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine's own defaults, whatever the calling shell sets
    for knob in ("SPARK_GRAFT_IO_CODEC", "SPARK_GRAFT_PREFER_SMJ"):
        os.environ.pop(knob, None)
    # everything Spark, the JVMs and the Python workers write stays in the run dir
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # spark-submit's launcher JVM
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        SPARK_GRAFT_DRIVER_MEM=cfg["driver_mem"],
        PYSPARK_PYTHON=sys.executable,
    )
    from erbench.procmon import PeakRss, descendants, reap

    # a terminated run still stops Spark and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    rss = PeakRss().start()
    try:
        result = _run(args, cfg, work, rss)
    except Exception:
        traceback.print_exc()
        result = None
    finally:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        kids = descendants(os.getpid())
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        reap(kids)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    summary, final = result
    print("erbench summary: " + json.dumps(summary, sort_keys=True))
    print(json.dumps(final), flush=True)
    return 0


def _run(args, cfg, work, rss):
    from erbench import tracing, workloads
    from erbench.metrics import END_TO_END, PER_LAYER

    wl_cls = workloads.WORKLOADS[args.workload]
    gen = time.perf_counter()
    data = wl_cls(None, work).prepare(args.seed, args.size)
    gen_s = time.perf_counter() - gen

    from music_dedupe_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "erbench",
        cpus=cfg["cores"],
        shuffle_partitions=cfg["shuffle_partitions"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the status store must keep every job of the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is committed and touched at start (-Xms =
            # -Xmx, AlwaysPreTouch): left to grow on demand, the JVM's RSS
            # moved by ~0.5 GB from run to run on identical inputs
            "spark.driver.extraJavaOptions": (
                f"{os.environ['SPARK_LAUNCHER_OPTS']} -Xms{cfg['driver_mem']}"
                " -XX:+AlwaysPreTouch"
            ),
        },
    )
    session_s = time.perf_counter() - t
    wl = wl_cls(spark, work, traced=bool(args.trace))
    tracer = tracing.Tracer(spark)
    collector = tracing.StatusCollector(spark)
    setup_s = time.time() - T_START - gen_s

    shuffle_mb: list[float] = []
    roots: list[int] = []
    rss_parts: list[dict] = []
    check_info: dict[int, dict] = {}

    def timed_op():
        tracer.op += 1
        roots.append(tracer.begin("op"))
        rss.begin()
        try:
            res = wl.op(data)
        finally:
            peak = rss.end()
            tracer.end(roots[-1])
        res.peak_rss_mb = peak
        rss_parts.append(rss.peak_parts)
        return res

    def check(res):
        # untimed: read the op's jobs from the status store, then check
        collector.refresh()
        jobs = tracing.attribute(collector.jobs, tracer.spans, roots[-1:])[roots[-1]]
        shuffle_mb.append(sum(j.shuffle_write_bytes for j in jobs) / 1e6)
        try:
            chk = wl.check(data, res)
            check_info[roots[-1]] = chk.info
            return chk
        finally:
            wl.release()

    loop = OpLoop(timed_op, check, args.seconds)
    if args.trace:
        tracer.install()
    try:
        loop.run()
    finally:
        tracer.uninstall()
    if not loop.times:
        raise RuntimeError(f"every one of {loop.attempted} timed ops failed")

    summary = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "trace": args.trace,
        "config": {
            **cfg, "master": f"local[{cfg['cores']}]",
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        },
        "ops": len(loop.times), "op_s": list(loop.times),
        "input_rows": data["rows"], "gen_s": gen_s, "session_s": session_s,
        "peak_rss_parts": rss_parts,
        "digest": loop.digests[0] if loop.digests else None,
        "checks": [c.info for c in loop.checks],
    }
    e2e_units = {n: u for n, u, _, _ in END_TO_END}
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(loop.rates),
        "peak_rss_mb": statistics.median(loop.rss_mb),
        "shuffle_write_mb": statistics.median(shuffle_mb),
        "pairwise_f1": statistics.median(loop.f1),
    }
    summary["metrics"] = {
        **{n: {"value": v, "unit": e2e_units[n]} for n, v in e2e.items()},
        "error_rate": {"value": loop.failed / loop.attempted, "unit": "ratio"},
    }
    if args.trace:
        # the traced ops' jobs, read once, and each op's layer metrics
        collector.refresh()
        per_op = [
            _layer_metrics(tracer.spans, root, collector.jobs, cfg["cores"], info)
            for root, info in check_info.items()
        ]
        metrics = {n: statistics.median(m[n] for m in per_op) for n in per_op[0]}
        metrics["setup.session.s"] = session_s
        metrics["kernel.dp_pairs_per_s"] = workloads.dp_kernel_pairs_per_s(args.seed)
        units = {n: u for n, u, _ in PER_LAYER}
        path = os.path.join(ROOT, ".erbench", f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": tracer.to_json(), "metrics": metrics}, f, indent=1)
    else:
        metrics, units = e2e, e2e_units
    final = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    return summary, final


def _layer_metrics(spans, root: int, jobs, cores: int, check_info: dict) -> dict:
    """The per-layer metrics of one traced op: its spans (those sharing
    the op id of span ``root``), the status-store jobs charged to each,
    and the counts the op's output check recorded."""
    from erbench import tracing
    from erbench.metrics import SPAN_METRICS

    rs = spans[root]
    jobs = [j for j in jobs if rs.start <= j.submitted <= rs.end]
    ids = [i for i, sp in enumerate(spans) if sp.op == rs.op]
    own = tracing.attribute(jobs, spans, ids)
    child_wall = {i: 0.0 for i in ids}
    for i in ids:
        if spans[i].parent in child_wall:
            child_wall[spans[i].parent] += spans[i].wall
    agg = {n: {m: 0.0 for m, _, _ in SPAN_METRICS} for n in tracing.SPAN_NAMES}
    extra: dict[str, float] = {}
    for i in ids:
        sp = spans[i]
        for k, v in sp.extra.items():
            extra[k] = extra.get(k, 0) + v
        if sp.name not in agg:
            continue
        a = agg[sp.name]
        a["self_s"] += sp.wall - child_wall[i]
        a["jobs"] += len(own[i])
        a["busy_s"] += sum(j.busy_s for j in own[i])
        a["shuffle_write_mb"] += sum(j.shuffle_write_bytes for j in own[i]) / 1e6
        a["rows_out"] += sp.rows_out or 0
    out: dict[str, float] = {}
    for n, a in agg.items():
        a["slot_util"] = a["busy_s"] / (a["self_s"] * cores) if a["self_s"] > 0 else 0.0
        for m, _, _ in SPAN_METRICS:
            out[f"{n}.{m}"] = a[m]

    def rate(span: str) -> float:
        a = agg[span]
        return a["rows_out"] / a["self_s"] if a["self_s"] > 0 else 0.0

    chan_rows = sum(a["rows_out"] for n, a in agg.items() if n.startswith("chan."))
    lsh_windows = [spans[i] for i in ids if spans[i].name == "dedup.lsh"]
    out.update(
        {
            "signatures.docs_per_s": rate("signatures"),
            "scoring.pairs_per_s": rate("scoring"),
            # the CC inputs are the matched pairs of every scoring call
            "scoring.match_ratio": (
                extra.get("edges_in", 0) / agg["scoring"]["rows_out"]
                if agg["scoring"]["rows_out"]
                else 0.0
            ),
            "candidates.dup_ratio": (
                1 - agg["candidates"]["rows_out"] / chan_rows
                if chan_rows and agg["candidates"]["rows_out"]
                else 0.0
            ),
            "cc.edges_in": extra.get("edges_in", 0),
            "delta.signatures_computed": check_info.get("delta_signatures_computed", 0),
            "checkpoint.write_mb": check_info.get("checkpoint_bytes", 0) / 1e6,
            "checkpoint.write_amp": check_info.get("checkpoint_write_amp", 0.0),
            "dedup.lsh.ungrouped_jobs": sum(
                1
                for j in jobs
                if j.group is None and any(w.start <= j.submitted <= w.end for w in lsh_windows)
            ),
            "trace.failed_tasks": sum(j.failed_tasks for j in jobs),
            "trace.coverage": sum(out[f"{n}.self_s"] for n in tracing.SPAN_NAMES) / rs.wall,
        }
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
