"""Physical-plan assertions (SURVEY §4): the 100 TB checklist encoded
as testable predicates — filters pushed to the parquet scan, column
pruning in ReadSchema, and broadcast joins where a side is small. Used
by tests/test_plans.py so a plan regression fails CI, not a cluster
run."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    txt = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", txt):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in every scan's ReadSchema (column-pruning check)."""
    txt = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", txt):
        cols.extend(c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip())
    return cols


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters entries of every file scan in the plan — the
    partition-pruning check (X10): a predicate on a partition column
    must prune directories at planning time, not filter rows after a
    full scan.

    Returns one string per scan (the full bracketed content, greedy to
    the line's last ']') — filters like ``IN ([r1,r2])`` contain both
    ']' and ',', so splitting would shred them into fragments."""
    txt = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[(.*)\]", txt):
        if m.group(1).strip():
            out.append(m.group(1).strip())
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def exchanges(df: DataFrame) -> list[dict]:
    """One dict per Exchange node of the formatted plan:
    ``cols`` = attribute names crossing the exchange (its Input list),
    ``args`` = the Arguments line (partitioning expression). The raw
    material for bytes-per-shuffle assertions — e.g. "the wide array
    column appears in no pair-row exchange"."""
    txt = explain_str(df)
    out: list[dict] = []
    # terminator: blank line OR end of string — an Exchange that is the
    # LAST detail block of the explain has no trailing blank line, and
    # silently dropping it would make the plan-shape assertions pass
    # vacuously for exactly that node
    for m in re.finditer(r"\(\d+\) Exchange\n((?:.+\n)*?)(?:\n|$)", txt):
        block = m.group(1)
        input_part = block.split("Arguments")[0]
        args = re.search(r"Arguments: (.*)", block)
        out.append(
            {
                "cols": set(re.findall(r"(\w+)#\d+", input_part)),
                "args": args.group(1) if args else "",
            }
        )
    return out
