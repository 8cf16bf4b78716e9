"""The metric catalogue: every metric's name, unit and direction, and the
end-to-end bounds. ``BENCHMARK.json`` at the repository root is this
catalogue serialized (``python3 -m erbench.metrics`` from the repository
root prints it; ``test_erbench.py`` checks they agree)."""

from __future__ import annotations

import json

from erbench.tracing import SPAN_NAMES

#: (name, unit, better, bound). Tracing is off for all of these.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("shuffle_write_mb", "MB", "lower", 0.25),
    ("pairwise_f1", "ratio", "higher", 0.01),
)

#: the six metrics each span reports
SPAN_METRICS = (
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("busy_s", "s", "lower"),
    ("slot_util", "ratio", "higher"),
    ("shuffle_write_mb", "MB", "lower"),
    ("rows_out", "rows", "lower"),
)

PER_LAYER = (
    *(
        (f"{span}.{m}", unit, better)
        for span in SPAN_NAMES
        for m, unit, better in SPAN_METRICS
    ),
    ("setup.session.s", "s", "lower"),
    ("signatures.docs_per_s", "docs/s", "higher"),
    ("scoring.pairs_per_s", "pairs/s", "higher"),
    ("kernel.dp_pairs_per_s", "pairs/s", "higher"),
    ("scoring.match_ratio", "ratio", "higher"),
    ("candidates.dup_ratio", "ratio", "lower"),
    ("cc.edges_in", "count", "lower"),
    ("delta.signatures_computed", "count", "lower"),
    ("checkpoint.write_mb", "MB", "lower"),
    ("checkpoint.write_amp", "ratio", "lower"),
    ("dedup.lsh.ungrouped_jobs", "count", "lower"),
    ("trace.failed_tasks", "count", "lower"),
    ("trace.coverage", "ratio", "higher"),
)

WORKLOAD_WHY = {
    "resolve": (
        "checkpointed run_pipeline on a base with name- and content-borne duplicates "
        "and hot blocks over the cap, then incremental_link of a delta with bridges"
    ),
    "dedup_docs": (
        "dedup registry entries on near-duplicate document families above the "
        "LSH scale-path size: only operators/dedup.py works, no pipeline layer"
    ),
}

RUN_SECONDS = 1


def benchmark_json() -> dict:
    return {
        "command": ["python3", "erbench/run.py"],
        "paths": ["erbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOAD_WHY.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
