"""Operator catalog: every SURVEY.md §2 operator + training-data ops,
each as a (spark, sf_dir) -> DataFrame callable with (where SQL can
express it) a DuckDB oracle — the driver's correctness gate.

Parity rules (Spark <-> DuckDB), learned the hard way:
- column names aliased identically on both sides (driver sorts by name);
- no raw timestamps in outputs — epoch seconds as bigint;
- doubles rounded (round(x, N)) on both sides after identical arithmetic;
- DuckDB sum(int) is HUGEINT -> cast to BIGINT; Spark count/sum(int) -> long;
- DuckDB cast(double as int) ROUNDS, Spark truncates -> always floor() first;
- DuckDB regexp_replace needs the 'g' flag; Spark replaces all matches;
- md5() hex strings are portable (lowercase both sides), and min()/max()
  over them agree (bytewise string compare both sides);
- hex -> int: Spark conv(h,16,10) cast bigint == DuckDB ('0x'||h)::BIGINT;
- array indexing: Spark F.get is 0-based null-safe (ANSI-safe);
  DuckDB lists are 1-based.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pmocr_spark.partitioning import InputSize, _spread_width, input_size

QUERY_FNS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERY_FNS[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: memoized partitioning.input_size per (app, sf_dir, table) — the
#: spread decision sizes the scan once per session, not per query
_SCAN_SIZE: dict[tuple, InputSize | None] = {}


def _ts(spark: SparkSession, sf_dir: str, name: str, heavy: bool = False) -> DataFrame:
    """_t + the guide-§2.5 input-skew fix: the sf tables are single-
    row-group parquet files, which scan as ONE task regardless of split
    config — every map-side stage upstream of the first exchange (codec
    UDF chains, in-row token/array expressions, explode map sides) then
    runs on one core. Round-robin repartition to a WORK-PROPORTIONAL
    width (partitioning._spread_width: input bytes / per-task budget,
    capped at defaultParallelism; `heavy` marks codec-UDF consumers
    whose per-byte work is ~100× an expression pipeline), applied ONLY
    when the scan is narrower; at real scale (>= cores row groups) this
    is a no-op and adds no exchange. Measured round 6: full-width
    spread of a 584 KB scan DOUBLED q24/q44 (hundreds of ~40 ms tasks
    under host throttle) while the proportional width keeps the
    single-task map fix without the task flood. An input that cannot
    be sized locally (partitioning.input_size is None) is taken as
    wide: misjudging skips an optimization, never breaks a plan."""
    df = _t(spark, sf_dir, name)
    sc = spark.sparkContext
    key = (sc.applicationId, sf_dir, name)
    if key not in _SCAN_SIZE:
        _SCAN_SIZE[key] = input_size(df)
    size = _SCAN_SIZE[key]
    if size is None:
        return df
    target = _spread_width(size.bytes, sc.defaultParallelism, heavy)
    if size.splits < target:
        return df.repartition(target)
    return df


# =====================================================================
# 1. Core relational operators (SURVEY §2.2, §2.7 harness ops)
# =====================================================================


@query(
    "q01_lineitem_agg",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_lineitem_agg(spark, sf_dir):
    """Flagship relational agg (TPC-H Q1 shape): filter -> groupBy -> 6 aggs.

    Plan checks: filter + column pruning pushed to the parquet scan;
    partial (map-side) aggregation before the single shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q02_kind_filter",
    """
    SELECT event_id, event_type AS kind
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    """,
)
def q02_kind_filter(spark, sf_dir):
    """F1 extension/kind allow-list (pmocr.sh:2183, default.conf:14).

    Kinds are normalized to lowercase at ingest (pipeline.extract_spans
    applies F.lower for the general case); filtering the raw column with
    a plain isin keeps the predicate parquet-pushable — a lower()-wrapped
    isin would disable pushdown and scan every row group."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", F.col("event_type").alias("kind")).filter(
        F.col("event_type").isin("click", "view", "purchase")
    )


@query(
    "q03_anti_join_resume",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def q03_anti_join_resume(spark, sf_dir):
    """F2 already-processed exclusion as LEFT ANTI join — the resume
    primitive (pmocr.sh:2126-2144; checkpoint.resume_filter). The
    'urgent' predicate on the excluded side keeps the complement
    non-empty at every test SF (every customer has SOME order, so the
    unfiltered anti-join passed vacuously on 0 rows)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name")


@query(
    "q04_semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q04_semi_join(spark, sf_dir):
    """LEFT SEMI join (EXISTS) — complement of the resume anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_semi").select("c_custkey", "c_name")


@query(
    "q05_csv_hack",
    """
    SELECT doc_id, regexp_replace(text, '  +', ';', 'g') AS csv FROM documents
    """,
)
def q05_csv_hack(spark, sf_dir):
    """X1 CSV rewrite: >=2 spaces -> ';' (pmocr.sh:2017/2031)."""
    from pmocr_spark.functions import csv_hack

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", csv_hack("text").alias("csv"))


@query(
    "q06_output_name",
    """
    SELECT doc_id,
           source || '_OCR_2024-01-01T00-00-00Z_'
                  || cast(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS varchar)
                  || '.txt' AS out_name
    FROM documents
    """,
)
def q06_output_name(spark, sf_dir):
    """F7/F8 output-name projection + deterministic collision resolution:
    fixed job timestamp (never wall clock, SURVEY §7.4.3) + row_number
    (pmocr.sh:1880-1885, default.conf:150)."""
    d = _t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("source"),
            F.lit("_OCR_2024-01-01T00-00-00Z_"),
            F.row_number().over(w).cast("string"),
            F.lit(".txt"),
        ).alias("out_name"),
    )


@query(
    "q07_error_metrics",
    """
    SELECT event_type,
           count(*)                                              AS n,
           round(sum(value), 2)                                  AS total_value,
           count(*) FILTER (WHERE value > 100)                   AS n_high
    FROM events GROUP BY event_type
    """,
)
def q07_error_metrics(spark, sf_dir):
    """P8/S7 metrics fold: per-class counts (pmOCR's errorcount /
    .error marker files, pmocr.sh:268-278, 1057) as a groupBy."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count(F.when(F.col("value") > 100, 1)).alias("n_high"),
    )


@query(
    "q08_region_revenue",
    """
    SELECT r_name,
           count(*)                        AS n_orders,
           round(sum(o_totalprice), 2)     AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r_name
    """,
)
def q08_region_revenue(spark, sf_dir):
    """Star join: fact orders joined to broadcast dim chain
    customer->nation->region. The dims are small at any SF relative to
    the fact — broadcast them explicitly so the fact never shuffles."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "q09_window_topk",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) WHERE rk <= 3
    """,
)
def q09_window_topk(spark, sf_dir):
    """Top-K per group via window row_number (deterministic tiebreak)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= 3)
    )


@query(
    "q10_explode_embeddings",
    """
    SELECT vec_id, pos, round(v, 5) AS val FROM (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             cast(unnest(embedding) AS double)             AS v
      FROM embeddings WHERE vec_id < 50)
    """,
)
def q10_explode_embeddings(spark, sf_dir):
    """posexplode of an array column (S1's explode(spans) analog)."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return e.select("vec_id", F.posexplode("embedding").alias("pos", "v")).select(
        "vec_id", F.col("pos").cast("long").alias("pos"), F.round(F.col("v").cast("double"), 5).alias("val")
    )


@query(
    "q11_sessionize",
    """
    WITH g AS (
      SELECT user_id,
             CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events)
    SELECT user_id, cast(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def q11_sessionize(spark, sf_dir):
    """Sessionization: lag + gap>30min -> session starts (streaming
    session_window's batch analog; pyspark_guide 'Sessionization')."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        F.when(
            (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w) > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    return g.groupBy("user_id").agg(
        F.sum("new_sess").cast("long").alias("n_sessions"), F.count("*").alias("n_events")
    )


@query(
    "q12_pivot_counts",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS clicks,
           count(*) FILTER (WHERE event_type = 'view')     AS views,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
           count(*) FILTER (WHERE event_type = 'error')    AS errors,
           count(*)                                        AS total
    FROM events GROUP BY user_id
    """,
)
def q12_pivot_counts(spark, sf_dir):
    """Pivot as conditional aggregation (single shuffle, no pivot pass)."""
    ev = _t(spark, sf_dir, "events")

    def cnt(t):
        return F.count(F.when(F.col("event_type") == t, 1))

    return ev.groupBy("user_id").agg(
        cnt("click").alias("clicks"),
        cnt("view").alias("views"),
        cnt("purchase").alias("purchases"),
        cnt("error").alias("errors"),
        F.count("*").alias("total"),
    )


@query(
    "q13_rollup",
    """
    SELECT 'rollup' AS part, l_returnflag AS k1, l_linestatus AS k2,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube', event_type, cast(day_bucket AS VARCHAR), count(*),
           cast(NULL AS DOUBLE)
    FROM (SELECT event_type,
                 cast(floor(epoch(ts) / 86400) AS BIGINT) AS day_bucket
          FROM events)
    GROUP BY CUBE(event_type, day_bucket)
    UNION ALL
    SELECT 'gsets', event_type, cast(user_bucket AS VARCHAR), count(*),
           cast(NULL AS DOUBLE)
    FROM (SELECT event_type, user_id % 10 AS user_bucket FROM events)
    GROUP BY GROUPING SETS ((event_type), (user_bucket), (event_type, user_bucket))
    """,
)
def q13_rollup(spark, sf_dir):
    """Multi-dimensional grouping family in ONE gate slot: ROLLUP
    (lineitem), CUBE (events x day) and explicit GROUPING SETS (events x
    user bucket), each normalized to (part, k1, k2, n, sum_qty) and
    unioned. One aggregation shuffle per part; partial (map-side) agg
    applies to all three — grouping-set expansion happens inside the
    Expand operator before the exchange, so at 100 TB each part remains
    a single keyed shuffle of pre-combined rows. (Folded q13/q34/q41
    per the round-3 verdict to free gate-visible slots.)"""
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    rollup = li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    ).select(
        F.lit("rollup").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        "n",
        "sum_qty",
    )
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day_bucket")
    cube = (
        ev.select("event_type", day)
        .cube("event_type", "day_bucket")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("cube").alias("part"),
            F.col("event_type").alias("k1"),
            F.col("day_bucket").cast("string").alias("k2"),
            "n",
            F.lit(None).cast("double").alias("sum_qty"),
        )
    )
    ev.select("event_type", (F.col("user_id") % 10).alias("user_bucket")).createOrReplaceTempView(
        "q13_events"
    )
    gsets = spark.sql(
        """
        SELECT 'gsets' AS part, event_type AS k1,
               cast(user_bucket AS STRING) AS k2, count(*) AS n,
               cast(NULL AS DOUBLE) AS sum_qty
        FROM q13_events
        GROUP BY GROUPING SETS ((event_type), (user_bucket), (event_type, user_bucket))
        """
    )
    return rollup.unionAll(cube).unionAll(gsets)


@query(
    "q14_set_ops",
    """
    SELECT 'intersect' AS op, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'except', user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 180)
    UNION ALL
    SELECT 'union', user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      UNION
      SELECT user_id FROM events WHERE event_type = 'view')
    UNION ALL
    SELECT op, user_id FROM (
      SELECT CASE WHEN a.doc_id IS NULL THEN 'snap_added'
                  WHEN b.doc_id IS NULL THEN 'snap_removed'
                  WHEN a.h <> b.h THEN 'snap_changed' END AS op,
             coalesce(a.doc_id, b.doc_id) AS user_id
      FROM (SELECT doc_id, md5(text) AS h FROM documents
            WHERE doc_id % 5 <> 0) a
      FULL OUTER JOIN
           (SELECT doc_id,
                   md5(CASE WHEN doc_id % 3 = 0 THEN text || ' [rev2]'
                            ELSE text END) AS h
            FROM documents WHERE doc_id % 7 <> 0) b
        ON a.doc_id = b.doc_id)
    WHERE op IS NOT NULL
    """,
)
def q14_set_ops(spark, sf_dir):
    """Set-operation family in ONE gate slot (the poller's snapshot diff
    is a set-difference, pmocr.sh:1626): INTERSECT, EXCEPT and UNION
    (distinct), each tagged with an `op` discriminator. The EXCEPT arm
    keeps a value floor on the subtracted side so the difference is
    non-empty at every test SF (every clicker also purchased — the
    unfiltered EXCEPT passed vacuously on 0 rows). (Folded q14/q33/q46
    per the round-3 verdict to free gate-visible slots.)"""
    ev = _t(spark, sf_dir, "events")
    click = ev.filter(F.col("event_type") == "click").select("user_id")
    purchase = ev.filter(F.col("event_type") == "purchase").select("user_id")
    big_purchase = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 180)
    ).select("user_id")
    view = ev.filter(F.col("event_type") == "view").select("user_id")

    def tag(df, op):
        return df.select(F.lit(op).alias("op"), "user_id")

    # snap_* arms (round 5, fifth pass): corpus SNAPSHOT DIFF — the
    # between-crawls CDC question ("what changed since the last ingest")
    # asked of two content-hash snapshots derived deterministically from
    # documents (A drops every 5th doc, B drops every 7th and revises
    # every 3rd). ONE hash-partitioned full outer join on doc_id yields
    # all three classes in a single shuffle pass — never three separate
    # anti/semi joins over the same 10^12-row pair. pmOCR analog: the
    # poller's filename set-difference (pmocr.sh:1626) upgraded to
    # content identity.
    d = _t(spark, sf_dir, "documents")
    snap_a = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("ha")
    )
    snap_b = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("hb"),
    )
    diff = (
        snap_a.join(snap_b, "doc_id", "full_outer")
        .select(
            F.when(F.col("ha").isNull(), F.lit("snap_added"))
            .when(F.col("hb").isNull(), F.lit("snap_removed"))
            .when(F.col("ha") != F.col("hb"), F.lit("snap_changed"))
            .alias("op"),
            F.col("doc_id").alias("user_id"),
        )
        .filter(F.col("op").isNotNull())
    )
    return (
        tag(click.intersect(purchase), "intersect")
        .unionAll(tag(click.subtract(big_purchase), "except"))
        .unionAll(tag(click.union(view).distinct(), "union"))
        .unionAll(diff)
    )


@query(
    "q15_asof_last_error",
    """
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'error' THEN cast(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_epoch,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
    FROM events
    """,
)
def q15_asof_last_error(spark, sf_dir):
    """As-of join (self): for each event, the most recent prior-or-equal
    'error' ts for the same user — last_value IGNORE NULLS window
    (pyspark_guide 'As-of join') — plus the bounded sliding-frame op
    (7-row moving average) over the SAME window spec, so both frame
    shapes share one sort/exchange (folded q47 per the round-3 verdict;
    Spark plans a single Window operator for both)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w7 = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.last(
            F.when(F.col("event_type") == "error", F.unix_timestamp("ts").cast("long")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_error_epoch"),
        F.round(F.avg("value").over(w7), 4).alias("ma7"),
    )


# =====================================================================
# 2. Deduplication suite (training-data ops; documents table)
# =====================================================================

_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, len({w}) - 1), i -> "
    "{w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2]))"
).format(w=_TOKS_SQL)


def _toks_col():
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


def _ngram_rows(d: DataFrame, n_words: int, alias: str = "ng") -> DataFrame:
    """Exploded word n-grams of `documents` rows: (doc_id, <alias>).
    Single implementation lives in operators.dedup_index.ngram_rows
    (shuffle-free arrays_zip construction, shared with the incremental
    dedup index); shingling (n=3), bigram LM counts (q44, n=2) and
    contamination 4-grams (q45) all route through it."""
    from .operators.dedup_index import ngram_rows

    return ngram_rows(d, n_words, alias)


def _shingles_df(spark, sf_dir, max_doc: int | None = None, distinct: bool = True):
    """3-gram word shingles as exploded rows (doc_id, shingle).

    distinct=True (q17's Jaccard) gives SET semantics — intersection /
    union counts change with duplicates, so the dedup shuffle is part of
    the operator. distinct=False (q18's MinHash, round 4) skips it:
    duplicate shingles cannot change a min-hash, so the distinct was a
    full exchange of the largest intermediate bought for nothing — the
    groupBy(doc_id) signature agg's map-side combiner absorbs the
    duplicates for free. (Both DuckDB oracles already state the
    matching semantics: q17's CTE dedups, q18's does not.)"""
    d = _t(spark, sf_dir, "documents")
    if max_doc is not None:
        d = d.filter(F.col("doc_id") < max_doc)
    sh = _ngram_rows(d, 3, "shingle")
    return sh.distinct() if distinct else sh


from pmocr_spark.operators.substring_dedup import DEFAULT_K as _SUBSTR_K

# q16 substring-dedup gram width is the operator's DEFAULT_K (single
# source of truth — the oracle f-string below and the --dedup-substrings
# CLI default must never drift apart): any cross-document duplicated
# span of >= _SUBSTR_K words is removed.


@query(
    "q16_dedup_exact",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    occ AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(ws, i, i + {_SUBSTR_K - 1}), ' ')) AS gh
      FROM w, unnest(range(1, len(ws) - {_SUBSTR_K - 2})) AS t(i)
      WHERE len(ws) >= {_SUBSTR_K}
    ),
    dup AS (
      SELECT gh, min(doc_id * 1000000 + pos) AS keep_key
      FROM occ GROUP BY gh HAVING min(doc_id) <> max(doc_id)
    ),
    rem AS (
      SELECT o.doc_id, o.pos FROM occ o JOIN dup d USING (gh)
      WHERE o.doc_id * 1000000 + o.pos <> d.keep_key
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + j AS idx
      FROM rem, unnest(range(0, {_SUBSTR_K})) AS u(j)
    ),
    words AS (
      SELECT doc_id, i AS idx, ws[i] AS wd
      FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
    ),
    kept AS (
      SELECT wo.doc_id, wo.idx, wo.wd
      FROM words wo LEFT JOIN cov c ON wo.doc_id = c.doc_id AND wo.idx = c.idx
      WHERE c.doc_id IS NULL
    ),
    reb AS (
      SELECT doc_id, cast(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(wd, ' ' ORDER BY idx)) AS new_h
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, cast(len(ws) AS BIGINT) AS n_words FROM w)
    SELECT 'doc' AS part, md5(text) AS key, min(doc_id) AS doc_id,
           cast(count(*) AS BIGINT) AS n, cast(NULL AS BIGINT) AS m
    FROM documents GROUP BY md5(text)
    UNION ALL
    SELECT 'substr' AS part, coalesce(r.new_h, md5('')) AS key, t.doc_id,
           t.n_words - coalesce(r.n_kept, 0) AS n, coalesce(r.n_kept, 0) AS m
    FROM tot t LEFT JOIN reb r USING (doc_id)
    WHERE t.n_words - coalesce(r.n_kept, 0) > 0
    UNION ALL
    SELECT 'url' AS part, md5(cu) AS key, min(doc_id) AS doc_id,
           cast(count(*) AS BIGINT) AS n, cast(NULL AS BIGINT) AS m
    FROM (
      -- canonical_url mirrored rule-for-rule (functions/__init__.py):
      -- scheme lower; userinfo strip; host lower, www. strip; default
      -- port drop; path // collapse + trailing strip (''->'/'); query
      -- tracking-param drop + lexicographic sort; fragment drop.
      -- NB DuckDB regexp_replace is first-match-only without 'g'.
      WITH u0 AS (
        SELECT doc_id,
          (CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'Http' END)
          || '://' || (CASE WHEN doc_id % 2 = 0 THEN 'USER:pw@WWW.' ELSE '' END)
          || 'ExAmple-' || source || '.COM'
          || (CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':8080' ELSE '' END)
          || '/Docs/' || (doc_id % 10)
          || (CASE doc_id % 4 WHEN 0 THEN '//' WHEN 1 THEN '/' ELSE '' END)
          || '?' || (CASE WHEN doc_id % 2 = 0
                          THEN 'page=' || (doc_id % 5) || '&utm_source=feed&z=9'
                          ELSE 'z=9&ref=tw&page=' || (doc_id % 5) END)
          || (CASE WHEN doc_id % 4 = 0 THEN '#sec1' ELSE '' END) AS u
        FROM documents),
      u1 AS (
        SELECT doc_id,
          lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
          regexp_replace(regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                         '#.*$', '') AS apq
        FROM u0),
      u2 AS (
        SELECT doc_id, sch,
          regexp_replace(regexp_extract(apq, '^([^/?]*)', 1), '^[^@]*@', '') AS auth,
          regexp_extract(apq, '^[^/?]*([^?]*)', 1) AS rawpath,
          regexp_extract(apq, '\\?(.*)$', 1) AS rawq
        FROM u1),
      u3 AS (
        SELECT doc_id, sch,
          regexp_replace(lower(regexp_extract(auth, '^([^:]*)', 1)),
                         '^www\\.', '') AS host,
          regexp_extract(auth, ':([0-9]+)$', 1) AS port,
          regexp_replace(regexp_replace(rawpath, '/{{2,}}', '/', 'g'),
                         '/+$', '') AS p2,
          array_to_string(list_sort(list_filter(string_split(rawq, '&'),
            x -> x <> '' AND NOT regexp_matches(x,
                 '^(utm_[^=]*|ref|fbclid|gclid)='))), '&') AS q
        FROM u2)
      SELECT doc_id,
        sch || '://' || host
        || (CASE WHEN port <> '' AND NOT ((sch = 'http' AND port = '80')
                                     OR (sch = 'https' AND port = '443'))
                 THEN ':' || port ELSE '' END)
        || (CASE WHEN p2 = '' THEN '/' ELSE p2 END)
        || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS cu
      FROM u3)
    GROUP BY cu
    UNION ALL
    -- paragraph-level cross-corpus dedup: 8-word paragraphs plus a
    -- shared boilerplate header (doc_id%7 variants — the nav/footer
    -- case), duplicated paragraphs only (n > 1), keeper = min doc_id,
    -- m = distinct-doc spread
    SELECT 'paragraph' AS part, md5(p) AS key, min(doc_id) AS doc_id,
           cast(count(*) AS BIGINT) AS n,
           cast(count(DISTINCT doc_id) AS BIGINT) AS m
    FROM (
      SELECT doc_id, unnest(list_concat(
        ['shared boilerplate header variant ' || (doc_id % 7)],
        list_transform(range(0, (len(ws) + 7) // 8), i ->
          array_to_string(ws[(i*8+1):(i*8+8)], ' ')))) AS p
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
    GROUP BY md5(p)
    HAVING count(*) > 1
    """,
)
def q16_dedup_exact(spark, sf_dir):
    """Dedup family in ONE gate slot, `part`-discriminated:
      * part='doc': exact document dedup — hash-groupBy, keep min doc_id
        per content hash; single shuffle, partial agg map-side.
      * part='substr': exact substring dedup (Lee et al. ACL'22 at k-gram
        granularity, operators/substring_dedup.py) — one row per document
        that lost words, key = md5 of the reconstructed text (pinning the
        whole reassembly byte-for-byte against the oracle), n = words
        removed, m = words kept.
      * part='url' (round 5): URL-level dedup — canonical_url
        (functions/__init__.py: SURT/CommonCrawl-style normalization,
        pure codegen) over a deterministic messy-URL scaffold (the q40
        lift pattern: scheme/www/userinfo/port/trailing-slash/tracking-
        param/fragment noise keyed off doc_id mods, built identically in
        both engines), then hash-groupBy on the canonical form. key =
        md5(canonical), n = group size. The operator under test is the
        normalization; at 10^12 rows this is scan + one hash agg.
      * part='paragraph' (round 5): cross-corpus paragraph-level dedup
        (RefinedWeb §G.2 / MassiveText practice, public) — 8-word
        paragraphs plus a shared boilerplate header scaffold, exploded
        and hash-grouped; duplicated paragraphs only (n > 1), keeper =
        min doc_id, m = distinct-doc spread. One explode + one
        map-side-combined hash agg on a 128-bit key: scan-bound.
    All parts stay codegen-only; the substring part's dup detection is
    min(doc)<>max(doc) per gram (no count-distinct expand)."""
    from pmocr_spark.functions import canonical_url
    from pmocr_spark.operators.substring_dedup import substring_dedup

    d = _t(spark, sf_dir, "documents")
    doc = d.groupBy(F.md5(F.col("text").cast("binary")).alias("key")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n"),
    ).select(
        F.lit("doc").alias("part"),
        "key",
        "doc_id",
        "n",
        F.lit(None).cast("long").alias("m"),
    )
    sub = (
        substring_dedup(d, k=_SUBSTR_K)
        .filter(F.col("n_removed") > 0)
        .select(
            F.lit("substr").alias("part"),
            F.md5(F.col("new_text").cast("binary")).alias("key"),
            "doc_id",
            F.col("n_removed").alias("n"),
            F.col("n_kept").alias("m"),
        )
    )
    did = F.col("doc_id")
    messy = F.concat(
        F.when(did % 3 == 0, F.lit("HTTP"))
        .when(did % 3 == 1, F.lit("https"))
        .otherwise(F.lit("Http")),
        F.lit("://"),
        F.when(did % 2 == 0, F.lit("USER:pw@WWW.")).otherwise(F.lit("")),
        F.lit("ExAmple-"),
        F.col("source"),
        F.lit(".COM"),
        F.when(did % 5 == 0, F.lit(":80"))
        .when(did % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/Docs/"),
        (did % 10).cast("string"),
        F.when(did % 4 == 0, F.lit("//"))
        .when(did % 4 == 1, F.lit("/"))
        .otherwise(F.lit("")),
        F.lit("?"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit("page="), (did % 5).cast("string"), F.lit("&utm_source=feed&z=9")),
        ).otherwise(
            F.concat(F.lit("z=9&ref=tw&page="), (did % 5).cast("string"))
        ),
        F.when(did % 4 == 0, F.lit("#sec1")).otherwise(F.lit("")),
    )
    url = (
        d.select("doc_id", canonical_url(messy).alias("cu"))
        .groupBy("cu")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n"))
        .select(
            F.lit("url").alias("part"),
            F.md5(F.col("cu").cast("binary")).alias("key"),
            "doc_id",
            "n",
            F.lit(None).cast("long").alias("m"),
        )
    )
    # part='paragraph' (round 5): cross-corpus paragraph-level dedup
    # (the RefinedWeb/MassiveText boilerplate-paragraph case): re-line
    # each doc into 8-word paragraphs, prepend a shared boilerplate
    # header keyed off doc_id%7 (the repeated nav/footer that motivates
    # the operator), explode, hash-groupBy on the paragraph hash and
    # keep duplicated paragraphs only. ONE explode + ONE hash agg with
    # map-side partial aggregation — scan-bound at 10^12 docs; the
    # group key is a 128-bit hash, never the paragraph text.
    ws16 = F.split(F.col("text"), " ")
    nch16 = F.floor((F.size(ws16) + F.lit(7)) / F.lit(8)).cast("int")
    paras = F.concat(
        F.array(
            F.concat(
                F.lit("shared boilerplate header variant "),
                (F.col("doc_id") % 7).cast("string"),
            )
        ),
        F.transform(
            F.sequence(F.lit(0), nch16 - 1),
            lambda i: F.array_join(F.slice(ws16, i * 8 + 1, 8), " "),
        ),
    )
    par = (
        d.select("doc_id", F.explode(paras).alias("p"))
        .groupBy(F.md5(F.col("p").cast("binary")).alias("key"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("m"),
        )
        .filter(F.col("n") > 1)
        .select(F.lit("paragraph").alias("part"), "key", "doc_id", "n", "m")
    )
    return doc.unionAll(sub).unionAll(url).unionAll(par)


#: q17 stop-shingle document-frequency cap: a shingle present in more
#: than this many docs is a "stop-shingle" (the 'of the and' problem) and
#: is excluded from the Jaccard definition entirely (intersection AND
#: union) — the inverted-index self-join otherwise explodes as df² on hot
#: shingles at scale. Half the q17 doc subset: generous enough that only
#: genuinely degenerate shingles are dropped.
_STOP_SHINGLE_DF = 75


@query("q17_ngram_jaccard")  # oracle registered below (composes q18's SQL)
def q17_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard family in ONE gate slot, `part`-discriminated:
      * part='subset': exact all-pairs Jaccard over the doc_id < 150
        subset — shingle -> stop-shingle df cap -> inverted-index
        self-join -> |A∩B| / |A∪B|. The shingle equi-join is the
        scalable all-pairs path (no doc×doc cross product); hot-shingle
        skew is bounded by the df cap: one cheap pre-aggregation drops
        shingles with document frequency > _STOP_SHINGLE_DF from the
        similarity definition (both intersection and union), so no join
        key fans out more than cap² pairs.
      * part='snm' (round 5): sorted-neighborhood blocking (Hernández &
        Stolfo SIGMOD'95) — ONE corpus sort on a first-3-token blocking
        key (q37 two-pass rank, no global sort), in-window pairs via an
        explode + rnk equi-join (O(n·(w-1)), w=_SNM_W), then the SAME
        exact-Jaccard verify as the LSH arm over the shared pipeline.
        The zero-signature candidate generator for sort-clustered
        near-dups.
      * part='fs' (round 5): Fellegi-Sunter record linkage (JASA 1969)
        — blocked candidate equi-join on (nation, name-prefix) over a
        deterministic dirty replica of `customer`, per-field agreement
        scored with fixed (m, u) log-odds weights in integer micro-nats
        (_FS_W); the name field uses the Winkler (1990) string-
        comparator refinement: a THREE-level exact/near(levenshtein<=2)
        /other ladder, so typo'd true pairs keep most of their match
        evidence instead of flipping to full disagreement; score > 0
        pairs survive (the FS lower threshold). The
        entity-resolution complement to the text arms: candidates are
        block-bounded, the score is a pure map expression. The score
        rides the jaccard column as an exact integer-valued double.
      * part='lsh_verified': the production MinHash shape — exact
        Jaccard computed ONLY on q18's LSH candidate pairs, over the
        FULL corpus. LSH bounds WHICH pairs are scored (|candidates|,
        never n²); the verify join bounds the false-positive rate the
        banding admits. Per pair the cost is O(|A| + |B|) shingle rows
        through two equi-joins — candidates fan out by shingle count,
        not by corpus size — so this is the arm that still runs when
        the subset arm's all-pairs definition cannot. True shingle sets
        here (no df cap): the cap exists to bound the self-join, and
        this arm has no self-join to bound.
    """
    # ---- part='subset'
    ex = _shingles_df(spark, sf_dir, max_doc=150)
    hot = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _STOP_SHINGLE_DF)
        .select("shingle")
    )
    # anti-join against the (tiny) hot set — AQE broadcasts it
    ex = ex.join(hot, "shingle", "left_anti")
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    sub = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.05)
        .select(
            F.lit("subset").alias("part"), "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
        )
    )
    # ---- part='lsh_verified'
    cand = QUERY_FNS["q18_minhash_lsh"](spark, sf_dir)
    # ---- part='snm' candidates: sorted-neighborhood blocking
    # (Hernández & Stolfo, "The Merge/Purge Problem for Large
    # Databases", SIGMOD'95). Sort the corpus ONCE on a cheap blocking
    # key (first-3-token prefix), slide a fixed window of _SNM_W over
    # the sorted order, score only in-window pairs. The rank comes from
    # the q37 two-pass pattern (range partition -> local row_number ->
    # broadcast offsets — no global single-partition sort), and the
    # window pairing is an EXPLODE of _SNM_W-1 target ranks + one
    # equi-join on rnk: O(n·(w-1)) candidate rows, never a range join,
    # never doc×doc. This is the candidate generator that beats LSH
    # when near-dups share a sort prefix (crawl snapshots, versioned
    # pages) because it costs one sort and zero signature passes.
    d = _t(spark, sf_dir, "documents")
    toks = _toks_col()
    keyed = d.filter(F.size(toks) >= 3).select(
        "doc_id", F.concat_ws(" ", F.slice(toks, 1, 3)).alias("k")
    )
    cand_snm = _snm_candidates(keyed)
    # Both candidate generators feed ONE shared verify pipeline, tagged
    # by part: the shingle scan, the size agg and the intersection
    # joins are paid once for the union of pair sets.
    cand_all = cand.select(
        F.lit("lsh_verified").alias("part"), "doc_a", "doc_b"
    ).unionAll(cand_snm.select(F.lit("snm").alias("part"), "doc_a", "doc_b"))
    # restrict the shingle table to candidate-pair docs BEFORE the
    # distinct shuffle and the size agg: only candidate docs are ever
    # consumed, and at 10^12 docs the full-corpus distinct exchange
    # would dominate the whole arm. Semi-join (AQE broadcasts the
    # candidate id set when it is small — the normal case).
    cdocs = (
        cand_all.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand_all.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shv = (
        _shingles_df(spark, sf_dir, distinct=False)
        .join(cdocs, "doc_id", "left_semi")
        .distinct()
    )
    sizesv = shv.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand_all.join(shv.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(shv.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("part", "doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    va = sizesv.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    vb = sizesv.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    ver = (
        inter.join(va, "doc_a")
        .join(vb, "doc_b")
        .filter(jac >= 0.05)
        .select(
            "part",
            "doc_a",
            "doc_b",
            F.round(jac, 4).alias("jaccard"),
        )
    )
    # ---- part='fs': Fellegi-Sunter record linkage (JASA 1969) over a
    # deterministic dirty replica of `customer` (the lift pattern:
    # name/segment/balance corruptions keyed off custkey mods, built
    # identically in both engines). The operator under test is the
    # blocked scoring join (_fs_score_pairs); the score rides the
    # family's jaccard column as exact integer micro-nats.
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    ck = F.col("c_custkey")
    dirty = cust.select(
        ck.alias("d_key"),
        F.when(
            ck % 3 == 0,
            F.concat(
                F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("X")
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.col("c_nationkey").alias("d_nat"),
        F.when(ck % 7 == 0, F.col("c_acctbal") + 1500)
        .otherwise(F.col("c_acctbal"))
        .alias("d_bal"),
        F.when(ck % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
    )
    fs = _fs_score_pairs(cust, dirty).select(
        F.lit("fs").alias("part"),
        "doc_a",
        "doc_b",
        F.col("score").cast("double").alias("jaccard"),
    )
    return sub.unionAll(ver).unionAll(fs)


#: sorted-neighborhood window size (pairs per row = _SNM_W - 1)
_SNM_W = 4

#: Fellegi-Sunter (JASA 1969) per-field log-odds weights in integer
#: micro-nats: agree weight = round(1e6·ln(m/u)), disagree =
#: round(1e6·ln((1-m)/(1-u))) for fixed published-style (m, u) model
#: parameters — name is the high-m/low-u identifying field, segment and
#: balance-bucket the supporting fields. Model CONSTANTS (not
#: data-derived), inlined identically into the Spark arm and the SQL
#: oracle, so the score is an exact integer sum in both engines.
_FS_MU = {"name": (0.9, 0.001), "seg": (0.95, 0.2), "bal": (0.9, 0.1)}

#: Winkler string-comparator refinement (Winkler 1990): the name field
#: gets THREE agreement levels — exact, near (levenshtein <= 2: typos
#: and truncations keep most of their match evidence), other — with
#: (m, u) mass split P(exact|M)=0.9, P(near|M)=0.08, P(other|M)=0.02 /
#: P(exact|U)=0.001, P(near|U)=0.005, P(other|U)=0.994. levenshtein is
#: a built-in in BOTH engines, so the ladder stays codegen + oracle-
#: restatable.
_FS_NAME_MU3 = {"e": (0.9, 0.001), "n": (0.08, 0.005), "d": (0.02, 0.994)}


def _fs_w() -> dict:
    import math

    w = {
        f"{k}_{tag}": round(1e6 * math.log(num / den))
        for k, (m, u) in _FS_MU.items()
        for tag, num, den in (("a", m, u), ("d", 1 - m, 1 - u))
    }
    for tag, (m, u) in _FS_NAME_MU3.items():
        w[f"name3_{tag}"] = round(1e6 * math.log(m / u))
    return w


_FS_W = _fs_w()


def _fs_score_pairs(clean: DataFrame, dirty: DataFrame) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring: blocked candidate join +
    integer log-odds agreement sum. `clean` carries (c_custkey, c_name,
    c_nationkey, c_acctbal, c_mktsegment); `dirty` the same under
    d_-prefixed names. Blocking = (nation, 16-char name prefix) — an
    EQUI-join, so candidates are bounded by block sizes, never n²; the
    agreement vector and the score are pure map expressions over the
    joined rows. Returns (doc_a, doc_b, score) for score > 0 (the
    positive-evidence / FS lower-threshold cut)."""
    score = (
        F.when(F.col("c_name") == F.col("d_name"), F.lit(_FS_W["name3_e"]))
        .when(
            F.levenshtein("c_name", "d_name") <= 2, F.lit(_FS_W["name3_n"])
        )
        .otherwise(F.lit(_FS_W["name3_d"]))
        + F.when(F.col("c_mktsegment") == F.col("d_seg"), F.lit(_FS_W["seg_a"]))
        .otherwise(F.lit(_FS_W["seg_d"]))
        + F.when(
            F.floor(F.col("c_acctbal") / 1000).cast("long")
            == F.floor(F.col("d_bal") / 1000).cast("long"),
            F.lit(_FS_W["bal_a"]),
        ).otherwise(F.lit(_FS_W["bal_d"]))
    )
    return (
        clean.join(
            dirty,
            (F.col("c_nationkey") == F.col("d_nat"))
            & (F.substring("c_name", 1, 16) == F.substring("d_name", 1, 16)),
        )
        .select(
            F.col("c_custkey").alias("doc_a"),
            F.col("d_key").alias("doc_b"),
            score.cast("long").alias("score"),
        )
        .filter(F.col("score") > 0)
    )


def _snm_candidates(keyed: DataFrame, w: int | None = None) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernández & Stolfo
    SIGMOD'95) over a (doc_id, k) frame: global rank on (k, doc_id) via
    the q37 two-pass pattern, then each row pairs with the next w-1
    ranks through an explode + equi-join on rnk. Output
    (doc_a, doc_b) with doc_a < doc_b; each unordered pair appears at
    most once because ranks are unique. Partitioning-invariant: the
    two-pass rank is an exact global row_number regardless of input
    layout (pinned by tests/test_snm.py)."""
    if w is None:
        w = _SNM_W
    ranked = _two_pass_rank(keyed, ["k", "doc_id"], "doc_id")
    offs = ranked.select(
        F.col("doc_id").alias("_ida"),
        F.explode(
            F.array(*[(F.col("rnk") + j).cast("long") for j in range(1, w)])
        ).alias("rnk"),
    )
    return offs.join(
        ranked.select(F.col("doc_id").alias("_idb"), "rnk"), "rnk"
    ).select(
        F.least("_ida", "_idb").alias("doc_a"),
        F.greatest("_ida", "_idb").alias("doc_b"),
    )


_N_MINHASH = 12
_BAND_SIZE = 3  # 4 bands
#: LSH band-bucket size cap (see q18 docstring)
_MAX_BAND_BUCKET = 100


def _minhash_exprs_sql() -> str:
    mins = ", ".join(
        f"min(md5(cast({i} AS varchar) || '|' || shingle)) AS mh{i}" for i in range(_N_MINHASH)
    )
    return mins


@query(
    "q18_minhash_lsh",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE len({_TOKS_SQL}) >= 3
    ),
    sig AS (SELECT doc_id, {_minhash_exprs_sql()} FROM sh GROUP BY doc_id),
    bands0 AS (
      SELECT doc_id, 0 AS band, md5('0|' || mh0 || mh1 || mh2)  AS key FROM sig UNION ALL
      SELECT doc_id, 1,         md5('1|' || mh3 || mh4 || mh5)         FROM sig UNION ALL
      SELECT doc_id, 2,         md5('2|' || mh6 || mh7 || mh8)         FROM sig UNION ALL
      SELECT doc_id, 3,         md5('3|' || mh9 || mh10 || mh11)       FROM sig
    ),
    bands AS (
      SELECT * FROM bands0 b0 WHERE NOT EXISTS (
        SELECT 1 FROM bands0 g WHERE g.band = b0.band AND g.key = b0.key
        GROUP BY g.band, g.key HAVING count(*) > {_MAX_BAND_BUCKET})
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def q18_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding: shingle -> 12 min-hashes -> 4 bands of 3 ->
    band-bucket equi-join -> candidate pairs. The banded join is the
    100TB-scale path: candidates only, never doc×doc. Degenerate buckets
    (> _MAX_BAND_BUCKET members — boilerplate floods) are dropped before
    the self-join: a k-member bucket costs k²/2 pairs, and such buckets
    are near-pure false-positive mass; the cap bounds per-key join
    fan-out (standard LSH practice)."""
    from .operators.dedup_index import minhash_bands

    # the candidate-pair set is tiny (near-dup pairs) but expensive to
    # derive (shingle -> minhash -> banded join); q50's connected
    # components consumes it again in the same session — cache the
    # materialized pairs so the signature pipeline runs once. The WHOLE
    # construction lives inside the closure (round 6): building the
    # plan eagerly and caching only the result still paid ~3 s of
    # analyzer round-trips per repeat call (measured: q18 warm
    # build_sec 3.0 s with 0.04 s of executor CPU) — on a cache hit
    # none of it should run.
    def build():
        sh = _shingles_df(spark, sf_dir, distinct=False)  # min() ignores dups
        bands = minhash_bands(
            sh,
            n_hashes=_N_MINHASH,
            band_size=_BAND_SIZE,
            max_bucket=_MAX_BAND_BUCKET,
        )
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )

    return _cached_df(spark, sf_dir, "documents.parquet", "q18_pairs", build)


@query(
    "q19_simhash",
    """
    WITH tok AS (
      SELECT doc_id, md5(unnest(string_split_regex(lower(trim(text)), '\\s+'))) AS h
      FROM documents
    ),
    bits AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN
                   cast(floor((('0x' || substr(h, 1 + b.bit // 4, 1))::INT)
                              / power(2, b.bit % 4)) AS BIGINT) % 2 = 1
                 THEN 1 ELSE -1 END) AS s
      FROM tok, (SELECT unnest(range(16)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           cast(sum(CASE WHEN s > 0 THEN cast(floor(power(2, bit)) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q19_simhash(spark, sf_dir):
    """SimHash document fingerprint: per-token md5 -> 16 bit-weights ->
    sign -> fingerprint. Hamming-close fingerprints = near-dups.
    Portable bit math: hex-digit parse + floor/pow (no platform hash).

    Single-pass shape: the 16 bit-weight sums are 16 AGG COLUMNS over the
    token rows (one shuffle on doc_id, map-side partial agg), not an
    exploded (doc_id, bit) row set — the row-per-bit variant amplifies
    the token table 16x through two shuffles for identical results."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(_toks_col()).alias("t")
    ).select("doc_id", F.md5(F.col("t").cast("binary")).alias("h"))

    def weight(bit: int):
        hexval = F.conv(F.substring("h", 1 + bit // 4, 1), 16, 10).cast("int")
        is_set = F.floor(hexval / F.lit(2 ** (bit % 4))) % 2 == 1
        return F.when(is_set, F.lit(1)).otherwise(F.lit(-1))

    sums = tok.groupBy("doc_id").agg(
        *[F.sum(weight(b)).alias(f"s{b}") for b in range(16)]
    )
    fingerprint = sum(
        (F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(16)),
        start=F.lit(0),
    )
    return sums.select("doc_id", fingerprint.cast("long").alias("simhash"))


#: number of deterministic visual-equality classes for q20's
#: part='visual' arm. Single source of truth for the Spark arm and the
#: oracle's modulus via the <<VIS_CLASSES>> substitution below.
_VIS_CLASSES = 50


def _emb_neardup_pairs(spark, sf_dir):
    """(vec_a, vec_b, score): embedding-cosine near-dup pairs (threshold
    0.35), IVF-cluster-blocked — a cluster_id EQUI-join, never a doc×doc
    BroadcastNestedLoopJoin, so the shape survives an unbounded
    embedding table. Consumed by q20's 'embedding' arm directly and by
    its 'semantic' arm as the edge set of the SemDeDup components."""
    v = _norm_embeddings(spark, sf_dir)
    va = v.join(_ivf_assign(v), "vec_id")
    a = va.alias("a")
    b = va.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(sim >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(sim, 4).alias("score"),
        )
    )


def _phash_class_text(k: int) -> str:
    """Deterministic 'visual class' page text for class k: 8 lines of 8
    four-char segments, each segment dense ('~', 6 ink pixels/column) or
    sparse ('!', 2 ink pixels/column) per one bit of md5(k). Rendered
    through the synthetic codec the page average-pools to an 8x8
    ink-density grid tracking the bit pattern, so DISTINCT classes land
    ~random-64-bit apart in pHash space (min pairwise hamming over the
    50 classes is test-pinned > 2 * max_hamming,
    tests/test_multimodal.py::test_q20_visual_classes_separated) while
    every blob of the SAME class is byte-identical (hamming 0). This is
    the q39-style encode-lift: known duplicate classes constructed from
    deterministic text let plain SQL state phash_near_dup's expected
    pair set exactly."""
    import hashlib

    bits = int.from_bytes(hashlib.md5(str(k).encode()).digest()[:8], "big")
    return "\n".join(
        "".join(("~" if bits >> (i * 8 + j) & 1 else "!") * 4 for j in range(8))
        for i in range(8)
    )


def _afp_class_text(k: int) -> str:
    """Deterministic 'acoustic class' text for class k: 64 chars, each
    dense ('~', 6 tone samples per 8-sample frame) or sparse ('@', 2)
    per one bit of md5(k). Encoded through the synthetic audio codec
    the clip is exactly 512 samples — one char frame per fingerprint
    bucket — so afp64's tone-density signature tracks the bit pattern:
    distinct classes land far apart (min pairwise hamming over the 50
    classes test-pinned > 2 * max_hamming) while same-class blobs are
    byte-identical (hamming 0). The audio twin of _phash_class_text;
    cross-salt (re-encode) robustness is pinned separately in
    tests/test_multimodal.py."""
    import hashlib

    bits = int.from_bytes(hashlib.md5(str(k).encode()).digest()[:8], "big")
    return "".join("~" if bits >> i & 1 else "@" for i in range(64))


@query(
    "q20_embedding_neardup",
    """
    WITH RECURSIVE v AS (
      SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
    cent AS (SELECT vec_id AS cent_id, e AS ce, nrm AS cn FROM n WHERE vec_id < 8),
    assign AS (
      SELECT n.vec_id, arg_max(cent_id,
               list_sum(list_transform(range(1, len(n.e)+1), i -> n.e[i] * ce[i])) / (n.nrm * cn))
             AS cluster_id
      FROM n, cent GROUP BY n.vec_id
    ),
    va AS (SELECT n.*, a.cluster_id FROM n JOIN assign a USING (vec_id)),
    ee AS (
      SELECT a.vec_id AS x, b.vec_id AS y,
             round(list_sum(list_transform(range(1, len(a.e)+1),
                   i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 4) AS score
      FROM va a JOIN va b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i] * b.e[i]))
            / (a.nrm * b.nrm) >= 0.35
    ),
    sym AS (
      SELECT x AS a, y AS b FROM ee
      UNION SELECT y, x FROM ee
      UNION SELECT x, x FROM ee
      UNION SELECT y, y FROM ee
    ),
    r(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
    ),
    comp AS (SELECT a AS vec_id, min(b) AS cmp FROM r GROUP BY a),
    -- SRP-LSH (part='srp', round 5 tenth pass): FULL independent
    -- restatement of the sign-random-projection hash — Rademacher
    -- hyperplane entry (i,j) from md5 parity (the Count-Min row-hash
    -- convention), bit i = sign(<v, r_i>), packed into two 32-bit
    -- halves so hamming = bit_count(xor(hi)) + bit_count(xor(lo)),
    -- then ALL pairs at hamming <= 3 (the Spark side's banded join is
    -- pigeonhole-complete there, so banding is an execution detail the
    -- oracle need not restate). Corpus = every embedding plus its
    -- one-coordinate-zeroed twin (coordinate vec_id mod dim) — the
    -- deterministic near-dup the raw table lacks (max corpus cosine
    -- 0.51 ~ hamming 16+).
    srpv AS (
      SELECT 'e:' || cast(vec_id AS VARCHAR) AS ref,
             list_transform(embedding, x -> cast(x AS double)) AS e
      FROM embeddings
      UNION ALL
      SELECT 't:' || cast(vec_id AS VARCHAR),
             list_transform(range(1, len(embedding) + 1),
                 i -> CASE WHEN i - 1 = vec_id % len(embedding)
                           THEN 0.0 ELSE cast(embedding[i] AS double) END)
      FROM embeddings),
    srpsgn AS (
      SELECT i, j,
             CASE WHEN ('0x' || substr(md5(cast(i AS varchar) || '|' ||
                        cast(j AS varchar)), 1, 8))::BIGINT % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM range(0, 64) t(i), range(1, <<EMB_DIM>> + 1) u(j)),
    srpbit AS (
      SELECT ref, i, CASE WHEN sum(e[j] * s) > 0 THEN 1 ELSE 0 END AS bit
      FROM srpv, srpsgn GROUP BY ref, i),
    srph AS (
      SELECT ref,
             sum(CASE WHEN i < 32 THEN bit * (1::BIGINT << (31 - i)) ELSE 0 END) AS hi,
             sum(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (63 - i)) ELSE 0 END) AS lo
      FROM srpbit GROUP BY ref)
    SELECT 'embedding' AS part,
           cast(x AS VARCHAR) AS ref_a, cast(y AS VARCHAR) AS ref_b, score
    FROM ee
    UNION ALL
    SELECT 'semantic' AS part,
           cast(n.vec_id AS VARCHAR) AS ref_a,
           cast(coalesce(c.cmp, n.vec_id) AS VARCHAR) AS ref_b,
           CASE WHEN coalesce(c.cmp, n.vec_id) = n.vec_id THEN 1.0 ELSE 0.0 END AS score
    FROM n LEFT JOIN comp c USING (vec_id)
    UNION ALL
    SELECT 'visual' AS part,
           'v:' || cast(a.doc_id AS VARCHAR) AS ref_a,
           'v:' || cast(b.doc_id AS VARCHAR) AS ref_b,
           0.0 AS score
    FROM documents a JOIN documents b
      ON a.doc_id % <<VIS_CLASSES>> = b.doc_id % <<VIS_CLASSES>>
     AND 'v:' || cast(a.doc_id AS VARCHAR) < 'v:' || cast(b.doc_id AS VARCHAR)
    UNION ALL
    SELECT 'audio' AS part,
           'a:' || cast(a.doc_id AS VARCHAR) AS ref_a,
           'a:' || cast(b.doc_id AS VARCHAR) AS ref_b,
           0.0 AS score
    FROM documents a JOIN documents b
      ON a.doc_id % <<VIS_CLASSES>> = b.doc_id % <<VIS_CLASSES>>
     AND 'a:' || cast(a.doc_id AS VARCHAR) < 'a:' || cast(b.doc_id AS VARCHAR)
    UNION ALL
    SELECT 'srp' AS part, a.ref AS ref_a, b.ref AS ref_b,
           cast(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS double)
             AS score
    FROM srph a JOIN srph b ON a.ref < b.ref
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
    """.replace("<<VIS_CLASSES>>", str(_VIS_CLASSES)).replace(
        "<<EMB_DIM>>", "64"
    ),
)
def q20_embedding_neardup(spark, sf_dir):
    """Near-duplicate PAIR detection family in ONE gate slot,
    `part`-discriminated (same fold policy as q16/q21):
      * part='embedding': embedding-cosine near-dup pairs (threshold
        0.35), cluster-blocked — every vector is IVF-assigned to its
        nearest fixed centroid (broadcast map-side, shared with q22) and
        only same-cluster pairs are compared: a cluster_id EQUI-join,
        never a doc×doc BroadcastNestedLoopJoin, so the shape survives
        an unbounded embedding table. Standard IVF near-dup trade-off:
        cross-cluster near-dups are missed (recall<1); a pathologically
        hot cluster should be capped or sub-clustered at 100TB. q18's
        banded LSH is the text-side twin. score = cosine.
      * part='visual' (round 5): pHash visual near-dup
        (operators/multimodal.phash_near_dup — hash, banded-hamming
        equi-join, bit_count verify) under the driver gate via the
        q39-style encode-lift: every document deterministically maps to
        one of _VIS_CLASSES rendered pages (doc_id mod class; blobs
        byte-identical within a class, pHash-far across classes — see
        _phash_class_text), so the expected pair set is exactly the
        same-class pairs, SQL-stated as a modulus self-join. The K
        class blobs are encoded ONCE driver-side and broadcast-joined
        onto the doc table (at 10^12 docs the blob column is the real
        corpus; the lift only replaces blob PROVENANCE, the hash +
        banded-join operator under test is the production one).
        score = hamming distance (0.0 for byte-identical classes).
      * part='audio' (round 5, ninth pass): acoustic-fingerprint audio
        near-dup (operators/multimodal.audio_near_dup — afp64
        tone-density envelope signature, the Chromaprint idea applied
        to the synthetic codec, through the SAME banded-hamming join)
        under the gate by the identical encode-lift over
        _afp_class_text classes; re-encode (different-noise-salt)
        robustness and class separation are test-pinned.

      * part='srp' (round 5, tenth pass): SRP-LSH embedding near-dup
        (operators/multimodal.srp_near_dup — Charikar STOC'02 sign
        random projections, md5-parity Rademacher hyperplanes) through
        the SAME banded-hamming join as the visual/audio arms: one
        candidate machinery across all dense modalities, moving 8-byte
        signatures instead of 256-byte vectors. The oracle restates the
        ENTIRE hash + all-pairs hamming <= 3 (complete because the
        banded join is pigeonhole-complete there); the corpus is every
        embedding plus its one-coordinate-zeroed twin, so near-miss
        bits — not just equality — are under the driver hash.
        score = hamming distance.
      * part='semantic' (round 5): the SemDeDup keep-decision (Abbas et
        al. '23, "SemDeDup: data-efficient learning at web-scale through
        semantic deduplication") — cluster embeddings, find in-cluster
        cosine near-dup pairs, connect them into semantic-duplicate
        components (operators/graph.connected_components, the same
        large-star/small-star loop q50 runs on text edges), and keep ONE
        representative per component (the minimum vec_id — SemDeDup
        keeps one point per ε-cluster; any deterministic choice works).
        Output: one row per CORPUS vector (singletons included —
        the keep-decision is total): ref_a = the vector, ref_b = its
        component representative (itself if unique), score = 1.0 if
        kept else 0.0. Scale: the pair join is the cluster-blocked
        equi-join above, CC is O(log² n) rounds over |pairs| edges, and
        the final left join is corpus × (small) component map.

    LAION-style visual dedup shape; pairs ordered ref_a < ref_b
    bytewise, matching both engines' string compare."""
    from . import codecs
    from .operators.graph import connected_components
    from .operators.multimodal import phash_near_dup

    v = _norm_embeddings(spark, sf_dir)
    pairs = _emb_neardup_pairs(spark, sf_dir)
    emb = pairs.select(
        F.lit("embedding").alias("part"),
        F.col("vec_a").cast("string").alias("ref_a"),
        F.col("vec_b").cast("string").alias("ref_b"),
        F.col("score"),
    )
    labels = connected_components(pairs, src="vec_a", dst="vec_b")
    sem = (
        v.select("vec_id")
        .join(labels.select(F.col("node").alias("vec_id"), "label"), "vec_id", "left")
        .select(
            F.lit("semantic").alias("part"),
            F.col("vec_id").cast("string").alias("ref_a"),
            F.coalesce("label", "vec_id").cast("string").alias("ref_b"),
            F.when(F.coalesce("label", "vec_id") == F.col("vec_id"), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("score"),
        )
    )
    cls = spark.createDataFrame(
        [(k, codecs.encode_image(_phash_class_text(k), "tiff", salt="q20v")) for k in range(_VIS_CLASSES)],
        "cls long, content binary",
    )
    blobs = (
        _t(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("v:"), F.col("doc_id").cast("string")).alias("media_ref"),
            (F.col("doc_id") % _VIS_CLASSES).cast("long").alias("cls"),
        )
        .join(F.broadcast(cls), "cls")
        .select("media_ref", "content")
    )
    vis = phash_near_dup(blobs).select(
        F.lit("visual").alias("part"),
        "ref_a",
        "ref_b",
        F.col("hamming").cast("double").alias("score"),
    )
    # part='audio' (round 5, ninth pass): acoustic-fingerprint near-dup
    # (operators/multimodal.audio_near_dup — afp64 tone-density
    # signature + the SAME banded-hamming join) under the gate via the
    # identical encode-lift: doc_id mod class onto 50 byte-identical
    # audio blobs (_afp_class_text; class separation and cross-salt
    # re-encode robustness test-pinned), expected pair set = the
    # same-class modulus self-join.
    from .operators.multimodal import audio_near_dup

    acls = spark.createDataFrame(
        [
            (k, codecs.encode_audio(_afp_class_text(k), salt="q20a"))
            for k in range(_VIS_CLASSES)
        ],
        "cls long, content binary",
    )
    ablobs = (
        _t(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("a:"), F.col("doc_id").cast("string")).alias("media_ref"),
            (F.col("doc_id") % _VIS_CLASSES).cast("long").alias("cls"),
        )
        .join(F.broadcast(acls), "cls")
        .select("media_ref", "content")
    )
    aud = audio_near_dup(ablobs).select(
        F.lit("audio").alias("part"),
        "ref_a",
        "ref_b",
        F.col("hamming").cast("double").alias("score"),
    )
    # part='srp' (round 5, tenth pass): SRP-LSH embedding near-dup
    # (operators/multimodal.srp_near_dup — Charikar STOC'02 sign-random-
    # projection + the SAME banded-hamming join as the visual/audio
    # arms, unifying the candidate machinery across all dense
    # modalities). Unlike the encode-lift arms, the ORACLE restates the
    # full hash (md5-parity Rademacher hyperplanes, two 32-bit halves,
    # all-pairs hamming <= 3 — complete because the banded join is
    # pigeonhole-complete at 3 < PHASH_BANDS), so hyperplane
    # derivation, sign arithmetic, bit packing AND the join semantics
    # are all under the driver hash. Corpus = every embedding plus its
    # one-coordinate-zeroed twin (coordinate vec_id mod dim): mean twin
    # hamming 2.45, 74% of twins within the threshold — non-vacuous
    # near misses the raw table lacks (max corpus cosine 0.51).
    from .operators.multimodal import srp_near_dup

    et = _t(spark, sf_dir, "embeddings")
    ecast = F.transform("embedding", lambda x: x.cast("double"))
    srp_in = et.select(
        F.concat(F.lit("e:"), F.col("vec_id").cast("string")).alias("media_ref"),
        ecast.alias("e"),
    ).unionAll(
        et.select(
            F.concat(F.lit("t:"), F.col("vec_id").cast("string")).alias("media_ref"),
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    i == F.col("vec_id") % F.size("embedding"), F.lit(0.0)
                ).otherwise(x.cast("double")),
            ).alias("e"),
        )
    )
    srp = srp_near_dup(srp_in, dim=_EMB_DIM).select(
        F.lit("srp").alias("part"),
        "ref_a",
        "ref_b",
        F.col("hamming").cast("double").alias("score"),
    )
    return emb.unionAll(sem).unionAll(vis).unionAll(aud).unionAll(srp)


# =====================================================================
# 3. Similarity search (ANN)
# =====================================================================


_DF_CACHE: dict = {}


def _cached_df(spark, sf_dir: str, dep_file: str, name: str, build):
    """Session-scoped DataFrame cache: persist `build()` once per
    (applicationId, sf_dir, dep-file mtime, name). applicationId not
    id(spark) — a new session allocated at a dead session's address
    would otherwise get a DataFrame bound to the stopped context; the
    mtime invalidates the cache if the parquet at sf_dir is regenerated
    mid-session. Stale entries are unpersisted before eviction.

    Used where several catalog queries share one expensive intermediate:
    normalized embeddings (q20/q21/q22/q33 re-read it 3+ times each) and
    the MinHash candidate edges (computed by q18, consumed again by
    q50's connected components)."""
    import os as _os

    try:
        mtime = _os.path.getmtime(f"{sf_dir}/{dep_file}")
    except OSError:
        mtime = None  # non-local FS: no mtime probe, path-only key
    key = (spark.sparkContext.applicationId, sf_dir, mtime, name)
    for k in list(_DF_CACHE):
        if k == key:
            continue
        if k[0] != key[0]:  # dead application: blocks died with its session
            del _DF_CACHE[k]
        elif k[1] == key[1] and k[3] == key[3]:  # same path+name, stale mtime
            try:
                _DF_CACHE[k].unpersist()
            except Exception:  # noqa: BLE001
                pass
            del _DF_CACHE[k]
    if key not in _DF_CACHE:
        _DF_CACHE[key] = build().persist()
    return _DF_CACHE[key]


def _norm_embeddings(spark, sf_dir):
    """Normalized embeddings, cached per (session, sf_dir): q20/q22 read
    this frame 3+ times each (centroids, assignment, queries, candidates)
    — without the cache every branch re-scans and re-normalizes
    (measured: ~3x the q22 wall time)."""

    def build():
        # spread the single-row-group scan BEFORE the persist: a
        # 1-partition cached frame serializes every downstream consumer
        # (q20/q21/q22/q33 cosine scans) onto one core (guide §2.5)
        e = _t(spark, sf_dir, "embeddings")
        # F.expr strings, not python higher-order lambdas: each python
        # lambda costs dozens of py4j round trips at CONSTRUCTION time
        # (measured: ~3 s of driver chatter for the q21 family's cosine
        # expressions alone); one SQL string is one round trip and
        # resolves to the identical expression tree
        v = e.select(
            "vec_id", "label",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        )
        return v.withColumn(
            "nrm",
            F.expr("sqrt(aggregate(transform(e, x -> x * x), 0D, (acc, x) -> acc + x))"),
        )

    return _cached_df(spark, sf_dir, "embeddings.parquet", "norm_embeddings", build)


def _argmax_assign(v, cent):
    """Map-side nearest-centroid assignment (round 4; replaces the
    crossJoin -> k-fold row blowup -> Window(vec_id) shuffle -> rn=1
    shape): ALL centroids pack into ONE array column (single-row
    collect_list agg, broadcast), and each vector computes its argmax
    with array expressions — cosine per centroid via zip_with/aggregate,
    then array_max over (csim, -cent_id, cent_id) structs, whose
    lexicographic ordering reproduces the old window's exact tie-break
    (highest csim, then smallest cent_id). The assignment stage is now
    PURE MAP: zero shuffles, zero row amplification — at 10^12 vectors
    the old shape shuffled k x corpus window rows per assignment pass;
    this shape shuffles nothing. (Spark MLlib's k-means broadcasts
    centroid arrays the same way.)

    `cent` must have (cent_id, ce, cn) = id, vector, norm."""
    packed = cent.agg(F.collect_list(F.struct("cent_id", "ce", "cn")).alias("cs"))

    # one F.expr parse instead of ~100 py4j lambda round trips (same
    # resolved expression tree: scored structs compare lexicographically
    # on (csim, ncid, cid), reproducing the window tie-break exactly)
    best = F.expr(
        "array_max(transform(cs, c -> named_struct("
        "'csim', aggregate(zip_with(e, c.ce, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        " / (nrm * c.cn), "
        "'ncid', -c.cent_id, "
        "'cid', c.cent_id)))"
    )
    return v.crossJoin(F.broadcast(packed)).select(
        "vec_id", best["cid"].alias("cluster_id")
    )


def _ivf_assign(v, n_cent: int = 8):
    """IVF cluster assignment: nearest of the first n_cent vectors as
    fixed centroids (deterministic — no kmeans RNG), via the map-side
    argmax (_argmax_assign). Shared by q20 (near-dup blocking) and q22
    (ANN)."""
    cent = v.filter(F.col("vec_id") < n_cent).select(
        F.col("vec_id").alias("cent_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
    )
    return _argmax_assign(v, cent)


def _ivf_probe_topn(v, queries, n_probe: int, n_cent: int = 8):
    """Multi-probe IVF assignment for the QUERY side: the n_probe
    nearest centroids per query vector — the standard IVF recall lever
    (candidates whose cluster narrowly beat the query's own come back
    into scope). Same map-side shape as _argmax_assign (packed
    broadcast centroid array, scored structs), but the scored array is
    reverse-sorted and the top n_probe sliced + exploded — only the
    tiny query side fans out, × n_probe rows. Tie-break matches the
    argmax exactly: csim desc, then cent_id asc (the ncid field makes
    the ascending struct sort break ties toward LARGER cent_id, so the
    reversed order breaks toward smaller).

    `v` is the FULL vector frame (centroids = vec_id < n_cent derive
    from it, matching _ivf_assign's convention exactly); `queries` is
    the frame to probe-assign. Taking them separately keeps centroid
    derivation independent of however the caller filtered the query
    side — a caller-filtered frame used for both silently loses
    centroids whenever n_cent exceeds the filter's id cutoff."""
    cent = v.filter(F.col("vec_id") < n_cent).select(
        F.col("vec_id").alias("cent_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
    )
    packed = cent.agg(F.collect_list(F.struct("cent_id", "ce", "cn")).alias("cs"))

    scored = F.expr(
        "transform(cs, c -> named_struct("
        "'csim', aggregate(zip_with(e, c.ce, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        " / (nrm * c.cn), "
        "'ncid', -c.cent_id, "
        "'cid', c.cent_id))"
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return (
        queries.crossJoin(F.broadcast(packed))
        .select("vec_id", F.explode(top).alias("b"))
        .select("vec_id", F.col("b.cid").alias("cluster_id"))
    )


_ANN_ORACLE_COMMON = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id < 10),
    c AS (SELECT * FROM n WHERE vec_id >= 10),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i] * c.e[i]))
               / (q.nrm * c.nrm) AS sim
      FROM q, c
    )
"""


#: ivfpq multi-probe width: queries probe their _NPROBE nearest IVF
#: clusters — THE recall/cost knob (recall@5 at nprobe 1/2/4 is benched
#: per round, BENCH/BASELINE.md). One constant, so the Spark arm and the
#: oracle's iq2 CTE (the <<NPROBE>> substitution below) always agree;
#: other widths go through ivfpq_search(..., n_probe=k).
_NPROBE = 2

#: RRF fusion constants (Cormack, Clarke & Buettcher, SIGIR 2009): the
#: paper's k=60 damping plus a fusion depth of 50 candidates per system
#: — deep enough that either system can promote a result the other
#: ranked modestly, shallow enough that each system ships only a
#: top-50, never its full scored list.
_RRF_K = 60
_RRF_DEPTH = 50


#: PQ search oracle CTEs (integer micro-unit ADC; see operators/pq.py)
#: shared by q21 (part='pq'/'ivfpq') and q47 (part='pq' — the persisted
#: index probe must return exactly what the in-memory scan returns)
_PQ_ORACLE_CTES = """
    , pqn AS (
      SELECT vec_id, list_transform(e, x -> x / nrm) AS en FROM n
    ),
    pqd AS (
      SELECT v2.vec_id, t.m, p.vec_id AS cent_id,
             cast(round(list_sum(list_transform(range(1, 5),
                  i -> (v2.en[t.m*4+i] - p.en[t.m*4+i])
                     * (v2.en[t.m*4+i] - p.en[t.m*4+i]))) * 1000000, 0) AS BIGINT) AS d_int
      FROM pqn v2, range(0, 16) AS t(m), pqn p
      WHERE p.vec_id < 16
    ),
    pqcodes AS (
      SELECT vec_id AS neighbor_id, m, arg_min(cent_id, d_int * 100 + cent_id) AS code
      FROM pqd WHERE vec_id >= 10 GROUP BY vec_id, m
    ),
    adc AS (
      SELECT qd.vec_id AS query_id, k.neighbor_id, cast(sum(qd.d_int) AS BIGINT) AS dist_int
      FROM pqcodes k JOIN pqd qd ON qd.m = k.m AND qd.cent_id = k.code
      WHERE qd.vec_id < 10
      GROUP BY qd.vec_id, k.neighbor_id
    ),
    pqshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY dist_int, neighbor_id) AS srk
        FROM adc) WHERE srk <= 50
    )
"""


#: BM25 oracle CTEs (operators/bm25.py): the arithmetic below mirrors
#: score_u_col() token-for-token — same association order, same
#: constants (k1=1.2 -> tf*2.2 numerator, b=0.75 -> 0.25 + 0.75*ratio),
#: per-(term,doc) partials rounded to micro-units BEFORE the integer
#: sum, so the per-pair total is exact on both engines.
_BM25_ORACLE_CTES = """
    , bt AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      FROM documents),
    btf AS (SELECT doc_id, term, cast(count(*) AS BIGINT) AS tf
            FROM bt WHERE term <> '' GROUP BY doc_id, term),
    bdl AS (SELECT doc_id, cast(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY doc_id),
    bdf AS (SELECT term, cast(count(*) AS BIGINT) AS dfr FROM btf GROUP BY term),
    bst AS (SELECT cast(count(*) AS BIGINT) AS n_docs,
                   cast(sum(dl) AS BIGINT) AS sum_dl FROM bdl),
    bq AS (
      SELECT DISTINCT doc_id AS query_id, unnest(w[1:3]) AS term
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM documents WHERE doc_id % 100 = 0)),
    bsc AS (
      SELECT q.query_id, f.doc_id,
             cast(sum(cast(round(1000000.0
                  * ln(1 + (n_docs - dfr + 0.5) / (dfr + 0.5))
                  * (f.tf * 2.2)
                  / (f.tf + 1.2 * (0.25 + 0.75 * (dl * n_docs) / sum_dl)), 0)
                  AS BIGINT)) AS BIGINT) AS score_u
      FROM bq q
      JOIN btf f USING (term)
      JOIN bdf USING (term)
      JOIN bdl ON f.doc_id = bdl.doc_id, bst
      GROUP BY q.query_id, f.doc_id),
    -- mrr: known-item search eval — 16-token queries (the longer
    -- query regime where self-retrieval is meaningful) over the SAME
    -- corpus statistics (btf/bdf/bdl/bst reused); gold reciprocal
    -- rank of the self target in the top-5, integer micro-units
    -- (1000000 // rank, 0 on a miss)
    bq16 AS (
      SELECT DISTINCT doc_id AS query_id, unnest(w[1:16]) AS term
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM documents WHERE doc_id % 100 = 0)),
    bsc16 AS (
      SELECT q.query_id, f.doc_id,
             cast(sum(cast(round(1000000.0
                  * ln(1 + (n_docs - dfr + 0.5) / (dfr + 0.5))
                  * (f.tf * 2.2)
                  / (f.tf + 1.2 * (0.25 + 0.75 * (dl * n_docs) / sum_dl)), 0)
                  AS BIGINT)) AS BIGINT) AS score_u
      FROM bq16 q
      JOIN btf f USING (term)
      JOIN bdf USING (term)
      JOIN bdl ON f.doc_id = bdl.doc_id, bst
      GROUP BY q.query_id, f.doc_id),
    mrrg AS (
      SELECT q.query_id, coalesce(t.rk, 0) AS grk,
             CASE WHEN coalesce(t.rk, 0) > 0
                  THEN 1000000 // t.rk ELSE 0 END AS rr_u
      FROM (SELECT DISTINCT query_id FROM bq16) q
      LEFT JOIN (
        SELECT query_id, doc_id, rk FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_u DESC, doc_id) AS rk
          FROM bsc16) WHERE rk <= 5) t
        ON t.query_id = q.query_id AND t.doc_id = q.query_id)
"""


@query(
    "q21_ann_bruteforce",
    (_ANN_ORACLE_COMMON
    + _PQ_ORACLE_CTES
    + _BM25_ORACLE_CTES
    + """
    , icent AS (SELECT vec_id AS cent_id, e AS ce, nrm AS cn FROM n WHERE vec_id < 8),
    iassign AS (
      SELECT n.vec_id, arg_max(cent_id,
               list_sum(list_transform(range(1, len(n.e)+1), i -> n.e[i] * ce[i]))
                 / (n.nrm * cn)) AS cluster_id
      FROM n, icent GROUP BY n.vec_id
    ),
    iq2 AS (
      SELECT vec_id, cent_id AS cluster_id FROM (
        SELECT n.vec_id, icent.cent_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(n.e)+1), i -> n.e[i] * ce[i]))
                   / (n.nrm * cn) DESC, icent.cent_id ASC) AS pr
        FROM n, icent WHERE n.vec_id < 10) WHERE pr <= <<NPROBE>>
    ),
    ivfadc AS (
      SELECT qd.vec_id AS query_id, k.neighbor_id, cast(sum(qd.d_int) AS BIGINT) AS dist_int
      FROM pqcodes k
      JOIN iassign ac ON ac.vec_id = k.neighbor_id
      JOIN iq2 aq ON aq.cluster_id = ac.cluster_id
      JOIN pqd qd ON qd.m = k.m AND qd.cent_id = k.code AND qd.vec_id = aq.vec_id
      GROUP BY qd.vec_id, k.neighbor_id
    ),
    ivfshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY dist_int, neighbor_id) AS srk
        FROM ivfadc) WHERE srk <= 50
    )
    SELECT 'brute' AS part, query_id, neighbor_id, rk, round(sim, 4) AS score FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM sims) WHERE rk <= 5
    UNION ALL
    SELECT 'pq' AS part, query_id, neighbor_id, rk, round(sim, 4) AS score FROM (
      SELECT s.query_id, s.neighbor_id, s.sim,
             row_number() OVER (PARTITION BY s.query_id
                                ORDER BY s.sim DESC, s.neighbor_id) AS rk
      FROM sims s JOIN pqshort USING (query_id, neighbor_id)) WHERE rk <= 5
    UNION ALL
    SELECT 'ivfpq' AS part, query_id, neighbor_id, rk, round(sim, 4) AS score FROM (
      SELECT s.query_id, s.neighbor_id, s.sim,
             row_number() OVER (PARTITION BY s.query_id
                                ORDER BY s.sim DESC, s.neighbor_id) AS rk
      FROM sims s JOIN ivfshort USING (query_id, neighbor_id)) WHERE rk <= 5
    UNION ALL
    SELECT 'bm25' AS part, query_id, doc_id AS neighbor_id, rk,
           round(score_u / 1000000.0, 4) AS score FROM (
      SELECT query_id, doc_id, score_u,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_u DESC, doc_id) AS rk
      FROM bsc) WHERE rk <= 5
    UNION ALL
    SELECT 'mrr' AS part, query_id, query_id AS neighbor_id,
           grk AS rk, cast(rr_u AS DOUBLE) AS score
    FROM mrrg
    UNION ALL
    SELECT 'mrr' AS part, -1 AS query_id, -1 AS neighbor_id,
           count(*) AS rk, cast(sum(rr_u) // count(*) AS DOUBLE) AS score
    FROM mrrg
    UNION ALL
    -- hybrid: RRF fusion (Cormack SIGIR'09, k=60) of the dense cosine
    -- and BM25 top-50 rank lists; integer micro-unit contributions
    SELECT 'hybrid' AS part, query_id, neighbor_id, rk,
           round(rrf_u / 1000000.0, 4) AS score FROM (
      SELECT query_id, neighbor_id, rrf_u,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_u DESC, neighbor_id) AS rk
      FROM (
        SELECT query_id, neighbor_id, cast(sum(u) AS BIGINT) AS rrf_u FROM (
          SELECT query_id, neighbor_id,
                 cast(round(1000000.0 / (<<RRFK>> + drk), 0) AS BIGINT) AS u FROM (
            SELECT hn.vec_id AS query_id, hc.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY hn.vec_id ORDER BY
                     list_sum(list_transform(range(1, len(hn.e)+1),
                                             i -> hn.e[i] * hc.e[i]))
                       / (hn.nrm * hc.nrm) DESC, hc.vec_id ASC) AS drk
            FROM n hn, n hc WHERE hn.vec_id % 100 = 0) WHERE drk <= <<RRFD>>
          UNION ALL
          SELECT query_id, doc_id AS neighbor_id,
                 cast(round(1000000.0 / (<<RRFK>> + lrk), 0) AS BIGINT) AS u FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score_u DESC, doc_id) AS lrk
            FROM bsc) WHERE lrk <= <<RRFD>>)
        GROUP BY query_id, neighbor_id)) WHERE rk <= 5
    UNION ALL
    -- phrase (round 5, ninth pass): exact consecutive-token match,
    -- occurrences counted at token-level start positions (1-based
    -- list arithmetic — no string-overlap ambiguity); queries = every
    -- 100th doc's first three tokens
    SELECT 'phrase' AS part, query_id, doc_id AS neighbor_id, rk,
           cast(n_matches AS DOUBLE) AS score FROM (
      SELECT query_id, doc_id, n_matches,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY n_matches DESC, doc_id) AS rk
      FROM (
        SELECT q.query_id, d.doc_id,
               len(list_filter(range(1, len(d.t) - 1),
                   i -> d.t[i] = q.p1 AND d.t[i+1] = q.p2 AND d.t[i+2] = q.p3))
                 AS n_matches
        FROM (SELECT doc_id AS query_id, t[1] AS p1, t[2] AS p2, t[3] AS p3
              FROM (SELECT doc_id,
                           string_split_regex(lower(trim(text)), '\\s+') AS t
                    FROM documents)
              WHERE doc_id % 100 = 0 AND len(t) >= 3) q,
             (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents) d)
      WHERE n_matches > 0) WHERE rk <= 5
    """).replace("<<NPROBE>>", str(_NPROBE))
       .replace("<<RRFK>>", str(_RRF_K))
       .replace("<<RRFD>>", str(_RRF_DEPTH)),
)
def q21_ann_bruteforce(spark, sf_dir):
    """Exact-vs-compressed ANN scan family in ONE gate slot,
    `part`-discriminated (same fold policy as q14/q16):
      * part='brute': brute-force cosine top-5 — broadcast the (small)
        query set against the candidate corpus; window top-5 per query.
        At 100TB the broadcast-queries × scan-candidates shape is
        exactly right — no candidate shuffle; only the tiny (query × k)
        result shuffles. score = cosine.
      * part='pq': product-quantized search over the SAME query /
        candidate split (operators/pq.py) — candidates are represented
        by 16 subspace codes (32× compression); the ADC scan reads codes
        and integer distance tables only, never the raw vectors, and
        returns a top-50 shortlist per query; an EXACT-cosine rerank
        over just the shortlisted vectors picks the final top-5 (the
        standard scan→shortlist→rerank production shape). score =
        cosine, directly comparable with part='brute'.
      * part='ivfpq': the FAISS-IndexIVFPQ composition (Jégou et al.
        TPAMI'11 §V) — IVF bounds WHICH candidates (the query's cluster
        only, via the map-side argmax assignment q22 uses), PQ bounds
        WHAT each comparison costs (8-byte codes, integer ADC tables).
        The ADC scan becomes a broadcast-hash EQUI-join on cluster_id
        instead of a cross join, so the pair count drops from
        |queries| × |corpus| to |queries| × |cluster| — at 10^12
        vectors this is the production billion-scale ANN shape: probe a
        cluster, scan codes, rerank the shortlist exactly.
      * part='bm25' (round 5): Okapi BM25 lexical retrieval over the
        documents table (operators/bm25.py) — the SPARSE side of the
        production hybrid-retrieval pair. Inverted index = one explode +
        one map-side-combined agg; query terms broadcast against the
        postings; integer micro-unit partial scores summed exactly
        (see _BM25_ORACLE_CTES for the mirrored arithmetic).
      * part='hybrid' (round 5, seventh pass): the two retrieval
        families FUSED — Reciprocal Rank Fusion (Cormack et al.,
        SIGIR 2009, k=60) over the dense cosine and BM25 top-50 rank
        lists for a shared query set (every 100th id; documents and
        embeddings are 1:1 on id). Fusing on RANKS sidesteps the
        incomparable score scales; the integer micro-unit rank
        contributions make the fused score an exact BIGINT under the
        hash gate. The production RAG-retrieval shape.
      * part='phrase' (round 5, ninth pass): exact-phrase retrieval
        over the positional index (operators/bm25.phrase_search,
        posexplode postings + broadcast phrase terms + one
        (q, doc, start) count-distinct agg) — verbatim-sequence lookup,
        the decontamination query; see _phrase_arm.
    The parts share one normalized-embeddings scan; PQ's codebook is
    the first 16 vectors and IVF's centroids the first 8
    (deterministic, q22's fixed-centroid convention). bench.py reports
    part='pq' and part='ivfpq' recall@5 against part='brute' ground
    truth alongside the IVF recalls (pq 0.82 at sf0.01; 0.16 without
    the rerank; ivfpq trades some recall for the cluster restriction —
    _NPROBE=2 multi-probe claws most of it back, exactly the trade the
    number makes visible)."""
    brute = _ann_rerank(_ann_sims(spark, sf_dir), None, "brute")
    pq = _ann_rerank(_ann_sims(spark, sf_dir), _pq_shortlist(spark, sf_dir), "pq")
    return (
        brute.unionAll(pq)
        .unionAll(ivfpq_search(spark, sf_dir))
        .unionAll(_bm25_arm(spark, sf_dir))
        .unionAll(_hybrid_arm(spark, sf_dir))
        .unionAll(_phrase_arm(spark, sf_dir))
        .unionAll(_mrr_arm(spark, sf_dir))
    )


#: mrr-arm query width: 16 tokens — the known-item regime (a 3-token
#: query over a small-vocab corpus carries no identifying idf mass, so
#: self-retrieval MRR would be degenerate zero)
_MRR_QTOKENS = 16


def _bm25_ix(spark, sf_dir):
    """Session-cached BM25 inverted index over `documents`: q21's bm25,
    hybrid and mrr arms all score against the same index, but each
    bm25_search call re-ran build_index — three corpus tokenizations
    and three postings aggs per q21 evaluation (measured round 6:
    51.6 MB shuffle for the family, one build's worth is ~17 MB).
    Caching the postings frame makes the corpus pass run once; dl/df/
    stats re-derive from the cached (Heaps-law-small) postings with one
    tiny agg each, identical arithmetic to bm25.build_index."""
    from .operators.bm25 import build_index

    postings = _cached_df(
        spark, sf_dir, "documents.parquet", "bm25_postings",
        lambda: build_index(_t(spark, sf_dir, "documents"))["postings"],
    )
    # postings carries dl denormalized (round 6); df/stats re-derive with
    # one Heaps-small agg each — df stays term-keyed (vocab-sized, auto-
    # broadcast when it fits) and stats is a 1-row frame
    df_ = _cached_df(
        spark, sf_dir, "documents.parquet", "bm25_df",
        lambda: postings.groupBy("term").agg(F.count("*").alias("df")),
    )
    stats = _cached_df(
        spark, sf_dir, "documents.parquet", "bm25_stats",
        lambda: postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        .agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")),
    )
    return {"postings": postings, "dl": None, "df": df_, "stats": stats}


def _bm25_scored3(spark, sf_dir):
    """Session-cached (query_id, doc_id, score_u) BM25 totals for the
    shared 3-token/%100 query set: the bm25 arm ranks it at top-5 and
    the hybrid arm at top-50 — SAME queries, same integers, previously
    two full postings-join scoring passes (the corpus's closed
    vocabulary makes nearly every posting match some query term, so
    each pass materializes a millions-of-rows scored intermediate)."""
    from .operators.bm25 import score_pairs

    def build():
        d = _t(spark, sf_dir, "documents")
        q = (
            d.filter(F.col("doc_id") % 100 == 0)
            .select(
                F.col("doc_id").alias("query_id"),
                F.explode(
                    F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 3)
                ).alias("term"),
            )
            .distinct()
        )
        return score_pairs(_bm25_ix(spark, sf_dir), q)

    return _cached_df(spark, sf_dir, "documents.parquet", "bm25_scored3", build)


def _mrr_arm(spark, sf_dir):
    """q21 part='mrr' (round 5): retrieval-quality EVALUATION under the
    gate — MRR@5 (the TREC mean-reciprocal-rank metric, Voorhees
    TREC-8) of BM25 known-item search against the self-retrieval gold:
    the query IS doc q's _MRR_QTOKENS-token prefix, so q is its own
    relevant document. Per query: the gold's reciprocal rank in
    integer micro-units (1000000 div rank; 0 on a top-5 miss — misses
    COUNT, the usual MRR@k cut); one summary row (ids = -1) carries
    n_queries and the integer-mean micro-MRR, so the corpus metric
    itself sits under the driver hash. Both hit ranks and misses
    appear in the gate window (pinned by tests). Integer arithmetic
    end-to-end: no float-sum ordering anywhere. Scale: one extra
    bm25_search over the query-sized side (queries broadcast onto the
    postings); the gold probe is one equi-join; the summary a 2-number
    agg."""
    from pmocr_spark.operators.bm25 import _score_topk

    d = _t(spark, sf_dir, "documents")
    qset = d.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id")
    )
    q = (
        d.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, _MRR_QTOKENS)
            ).alias("term"),
        )
        .distinct()
    )
    res = _score_topk(_bm25_ix(spark, sf_dir), q, 5, None)
    gold = res.filter(F.col("query_id") == F.col("doc_id")).select(
        "query_id", "rk"
    )
    rr = (
        # gold is provably <=1 row per query (query_id == doc_id over a
        # per-query top-5), but it derives from a window filter the
        # planner cannot size — without the hint both consumers (per_q
        # and the summary agg) pay a full sort-merge join of two
        # query-set-sized frames (round 6: the q21 family's only SMJs)
        qset.join(F.broadcast(gold), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("rk"), F.lit(0)).cast("int").alias("grk"),
        )
        .withColumn(
            "rr_u",
            F.expr("case when grk > 0 then 1000000 div grk else 0 end").cast(
                "long"
            ),
        )
    )
    per_q = rr.select(
        F.lit("mrr").alias("part"),
        "query_id",
        F.col("query_id").alias("neighbor_id"),
        F.col("grk").alias("rk"),
        F.col("rr_u").cast("double").alias("score"),
    )
    summ = rr.agg(
        F.count("*").alias("nq"), F.sum("rr_u").alias("s")
    ).select(
        F.lit("mrr").alias("part"),
        F.lit(-1).cast("long").alias("query_id"),
        F.lit(-1).cast("long").alias("neighbor_id"),
        F.col("nq").cast("int").alias("rk"),
        F.expr("cast(s div nq as double)").alias("score"),
    )
    return per_q.unionAll(summ)


def _phrase_arm(spark, sf_dir):
    """q21 part='phrase' (round 5, ninth pass): exact-phrase retrieval
    over the positional index (operators/bm25.phrase_search) — the
    query BM25's bag-of-words cannot express, and the one eval-set
    decontamination actually needs ('does this benchmark sentence
    appear VERBATIM?'). Queries: every 100th doc's first three tokens
    as the phrase (the hybrid arm's query-set convention); a match is
    the full consecutive token sequence, counted per occurrence
    (token-level start positions — no string-overlap ambiguity), and
    the oracle restates adjacency with 1-based list arithmetic. rk by
    (n_matches desc, doc_id), top-5. score = n_matches."""
    from .operators.bm25 import phrase_search

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    phrases = (
        d.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("phrase"),
            F.size(toks).alias("_n"),
        )
        .filter(F.col("_n") >= 3)
        .drop("_n")
    )
    return phrase_search(d, phrases, topk=5).select(
        F.lit("phrase").alias("part"),
        "query_id",
        F.col("doc_id").alias("neighbor_id"),
        "rk",
        F.col("n_matches").cast("double").alias("score"),
    )


def _hybrid_arm(spark, sf_dir):
    """q21 part='hybrid' (round 5, seventh pass): hybrid dense+sparse
    retrieval fused with Reciprocal Rank Fusion (Cormack et al., SIGIR
    2009) — the production RAG-retrieval shape (BM25 postings + vector
    search, fused on RANKS so the incomparable score scales never
    meet). Every 100th document is a query against BOTH systems (the
    testdata's documents and embeddings tables are 1:1 on id): dense =
    exact cosine over the normalized embeddings (broadcast-queries ×
    scan, the brute arm's 100 TB shape), sparse = the BM25 arm's
    integer-micro-unit scoring, each contributing its top-50 ranks;
    RRF_u(d) = Σ_systems round(1e6/(k + rank_s(d))) — a pure integer
    function of ranks, so the fused total is an exact BIGINT under the
    hash gate. Missing-from-one-system docs simply lack that term (the
    paper's convention). Scale: the only shuffle beyond the two
    systems' own is the (query × ≤100 rows) fusion groupBy — query-set
    sized, never corpus-sized."""
    from pmocr_spark.operators.bm25 import topk_of_scored

    v = _norm_embeddings(spark, sf_dir)
    q = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    dot = F.expr("aggregate(zip_with(qe, ce, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    sims = (
        v.select(
            F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
        )
        .crossJoin(F.broadcast(q))
        .select(
            "query_id", "neighbor_id", (dot / (F.col("qn") * F.col("cn"))).alias("sim")
        )
    )
    wd = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    dense = (
        sims.select("query_id", "neighbor_id", F.row_number().over(wd).alias("r"))
        .filter(F.col("r") <= _RRF_DEPTH)
    )
    lex = topk_of_scored(_bm25_scored3(spark, sf_dir), _RRF_DEPTH).select(
        "query_id", F.col("doc_id").alias("neighbor_id"), F.col("rk").alias("r")
    )
    u = F.round(F.lit(1000000.0) / (F.lit(_RRF_K) + F.col("r")), 0).cast("long")
    fused = (
        dense.select("query_id", "neighbor_id", u.alias("u"))
        .unionAll(lex.select("query_id", "neighbor_id", u.alias("u")))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("u").cast("long").alias("rrf_u"))
    )
    wr = W.partitionBy("query_id").orderBy(F.col("rrf_u").desc(), "neighbor_id")
    return (
        fused.select(
            "query_id", "neighbor_id", F.row_number().over(wr).cast("long").alias("rk"), "rrf_u"
        )
        .filter(F.col("rk") <= 5)
        .select(
            F.lit("hybrid").alias("part"),
            "query_id",
            "neighbor_id",
            "rk",
            F.round(F.col("rrf_u") / F.lit(1000000.0), 4).alias("score"),
        )
    )


def _bm25_arm(spark, sf_dir):
    """q21 part='bm25' (round 5): Okapi BM25 lexical retrieval
    (operators/bm25.py) — every 100th document stands in for the query
    log, its first 3 tokens (deduplicated) as the query. Scores are
    exact integer micro-unit sums (the DSIR/PQ parity discipline);
    display score = micro/1e6 rounded to 4dp, ranking on the raw
    integer. The sparse twin of the dense arms: same (part, query_id,
    neighbor_id, rk, score) rows, directly comparable top-5s."""
    from pmocr_spark.operators.bm25 import topk_of_scored

    return topk_of_scored(_bm25_scored3(spark, sf_dir), 5).select(
        F.lit("bm25").alias("part"),
        "query_id",
        F.col("doc_id").alias("neighbor_id"),
        "rk",
        F.round(F.col("score_u") / F.lit(1000000.0), 4).alias("score"),
    )


def _ann_sims(spark, sf_dir):
    """(query_id, neighbor_id, sim): exact cosine of every query ×
    candidate pair — broadcast the (small) query set against the scan;
    no candidate shuffle. Consumed whole by the brute arm and
    shortlist-pruned by the rerank arms."""
    v = _norm_embeddings(spark, sf_dir)
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = v.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
    )
    dot = F.expr("aggregate(zip_with(qe, ce, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    return c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", (dot / (F.col("qn") * F.col("cn"))).alias("sim")
    )


def _ann_rerank(sims, shortlist, part: str, topk: int = 5):
    """Per-query exact-cosine top-k as (part, query_id, neighbor_id,
    rk, score) rows. shortlist=None ranks the full sims frame (brute);
    otherwise cosine is computed ONLY for shortlisted pairs — the
    broadcast semi-join prunes the scan to k_short vectors per query."""
    if shortlist is not None:
        sims = sims.join(F.broadcast(shortlist), ["query_id", "neighbor_id"])
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        sims.select(
            "query_id", "neighbor_id", F.row_number().over(w).cast("long").alias("rk"), "sim"
        )
        .filter(F.col("rk") <= topk)
        .select(
            F.lit(part).alias("part"),
            "query_id",
            "neighbor_id",
            "rk",
            F.round("sim", 4).alias("score"),
        )
    )


def _pq_codes_tables(spark, sf_dir):
    """(codes, tables): session-cached PQ codes for the candidate side +
    per-query ADC distance tables. The encode pass is the expensive leg
    (16 subspaces x 16 centroid distances per vector) and the pq AND
    ivfpq arms consume it — Spark re-executes shared lineage per
    consumer branch, so it persists once per session (same policy as
    _norm_embeddings)."""
    from pmocr_spark.operators.pq import pq_codebook, pq_encode, pq_query_tables

    v = _norm_embeddings(spark, sf_dir)
    vn = v.select("vec_id", F.expr("transform(e, x -> x / nrm)").alias("en"))
    book = pq_codebook(vn)
    codes = _cached_df(
        spark,
        sf_dir,
        "embeddings.parquet",
        "pq_codes",
        lambda: pq_encode(vn.filter(F.col("vec_id") >= 10), book),
    )
    tables = pq_query_tables(
        vn.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "en"), book
    )
    return codes, tables


def _pq_shortlist(spark, sf_dir):
    from pmocr_spark.operators.pq import SHORTLIST, pq_adc_topk

    codes, tables = _pq_codes_tables(spark, sf_dir)
    return pq_adc_topk(codes, tables, topk=SHORTLIST).select("query_id", "neighbor_id")


def ivfpq_search(spark, sf_dir, n_probe: int | None = None):
    """IVF-PQ search (q21 part='ivfpq'), parametrized on the multi-probe
    width — THE recall/cost knob: each candidate carries its IVF cluster
    and the ADC scan equi-joins on it; queries probe their n_probe
    nearest clusters (candidates whose cluster narrowly beat the query's
    own stay in scope). A (query, neighbor) pair matches at most one
    probe row (the neighbor's cluster is unique), so no dedup is
    needed. n_probe=None uses the catalog default _NPROBE so the gate
    arm and the oracle stay in lockstep;
    bench.py sweeps {1,2,4} through this parameter and reports the
    recall@5/cost curve per round."""
    from pmocr_spark.operators.pq import SHORTLIST, pq_adc_topk

    if n_probe is None:
        n_probe = _NPROBE
    v = _norm_embeddings(spark, sf_dir)
    codes, tables = _pq_codes_tables(spark, sf_dir)
    assign = _ivf_assign(v)
    codes_c = codes.join(assign, "vec_id")
    qprobe = _ivf_probe_topn(v, v.filter(F.col("vec_id") < 10), n_probe=n_probe)
    tables_c = tables.join(
        qprobe.select(F.col("vec_id").alias("query_id"), "cluster_id"), "query_id"
    )
    short_ivf = pq_adc_topk(codes_c, tables_c, topk=SHORTLIST, by="cluster_id").select(
        "query_id", "neighbor_id"
    )
    return _ann_rerank(_ann_sims(spark, sf_dir), short_ivf, "ivfpq")


@query(
    "q22_ann_ivf",
    _ANN_ORACLE_COMMON
    + """
    , cent AS (SELECT vec_id AS cent_id, e AS ce, nrm AS cn FROM n WHERE vec_id < 8),
    assign AS (
      SELECT n.vec_id, arg_max(cent_id,
               list_sum(list_transform(range(1, len(n.e)+1), i -> n.e[i] * ce[i])) / (n.nrm * cn))
             AS cluster_id
      FROM n, cent GROUP BY n.vec_id
    )
    SELECT s.query_id, s.neighbor_id, rk2 AS rk, round(s.sim, 4) AS cos_sim FROM (
      SELECT sims.*, row_number() OVER (PARTITION BY sims.query_id
                                        ORDER BY sims.sim DESC, sims.neighbor_id) AS rk2
      FROM sims
      JOIN assign aq ON aq.vec_id = sims.query_id
      JOIN assign ac ON ac.vec_id = sims.neighbor_id AND ac.cluster_id = aq.cluster_id
    ) s WHERE rk2 <= 5
    """,
)
def q22_ann_ivf(spark, sf_dir):
    """IVF-style ANN: assign every vector to its nearest 'centroid'
    (vec_id < 8 as fixed centroids — deterministic, no kmeans RNG), then
    search only within the query's cluster. The cluster assignment is a
    broadcast-centroids map-side op; the search join co-partitions by
    cluster — the shape that survives 1000 executors."""
    v = _norm_embeddings(spark, sf_dir)
    assign = _ivf_assign(v)
    q = (
        v.filter(F.col("vec_id") < 10)
        .join(assign, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
            "cluster_id",
        )
    )
    c = (
        v.filter(F.col("vec_id") >= 10)
        .join(assign, "vec_id")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("e").alias("ce2"),
            F.col("nrm").alias("cn2"),
            "cluster_id",
        )
    )
    dot = F.expr("aggregate(zip_with(qe, ce2, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    sims = c.join(F.broadcast(q), "cluster_id").select(
        "query_id", "neighbor_id", (dot / (F.col("qn") * F.col("cn2"))).alias("sim")
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        sims.select("query_id", "neighbor_id", F.row_number().over(w).cast("long").alias("rk"), "sim")
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "rk", F.round("sim", 4).alias("cos_sim"))
    )


# =====================================================================
# 4. Text analysis (training-data ops; documents table)
# =====================================================================

_LANG_MARKERS = [("en", "the"), ("es", "los"), ("de", "und"), ("fr", "les"), ("zh", "shi")]


def _occ_sql(marker: str) -> str:
    return (
        f"cast(floor((length(lower(text)) - length(replace(lower(text), '{marker}', '')))"
        f" / {len(marker)}) AS BIGINT)"
    )


@query(
    "q23_lang_id",
    f"""
    WITH s AS (
      SELECT doc_id, {', '.join(f'{_occ_sql(m)} AS s_{l}' for l, m in _LANG_MARKERS)}
      FROM documents)
    SELECT doc_id,
           CASE greatest(s_en, s_es, s_de, s_fr, s_zh)
             WHEN 0 THEN 'und'
             WHEN s_en THEN 'en' WHEN s_es THEN 'es' WHEN s_de THEN 'de'
             WHEN s_fr THEN 'fr' ELSE 'zh' END AS pred_lang,
           cast((CASE WHEN s_en > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN s_es > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN s_de > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN s_fr > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN s_zh > 0 THEN 1 ELSE 0 END) AS BIGINT)   AS n_langs,
           CASE WHEN s_en + s_es + s_de + s_fr + s_zh = 0 THEN NULL
                ELSE round(greatest(s_en, s_es, s_de, s_fr, s_zh) * 1.0
                           / (s_en + s_es + s_de + s_fr + s_zh), 4)
           END                                                       AS dom_ratio,
           cast(CASE WHEN (CASE WHEN s_en > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN s_es > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN s_de > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN s_fr > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN s_zh > 0 THEN 1 ELSE 0 END) >= 2
                      AND greatest(s_en, s_es, s_de, s_fr, s_zh) * 2
                          <= s_en + s_es + s_de + s_fr + s_zh
                     THEN 1 ELSE 0 END AS BIGINT)                    AS is_mixed
    FROM s
    """,
)
def q23_lang_id(spark, sf_dir):
    """Language-ID via marker-token frequency (n-gram heuristic):
    deterministic argmax with fixed tie-break order en>es>de>fr>zh.

    Round 5 adds mixed-language detection (the CCNet/fastText top-2
    confidence practice, public — real pipelines drop or re-segment
    code-switched pages): n_langs = marker languages present,
    dom_ratio = top marker mass / total marker mass (NULL when no
    markers), is_mixed = >= 2 languages present AND no language holding
    a majority of the marker mass. Same single codegen'd map
    projection — zero added scans or shuffles."""
    d = _t(spark, sf_dir, "documents")

    def occ(m):
        lt = F.lower(F.col("text"))
        return F.floor((F.length(lt) - F.length(F.replace(lt, F.lit(m)))) / len(m)).cast("long")

    s = d.select("doc_id", *[occ(m).alias(f"s_{lang}") for lang, m in _LANG_MARKERS])
    cols = [F.col(f"s_{lang}") for lang, _ in _LANG_MARKERS]
    g = F.greatest(*cols)
    pred = (
        F.when(g == 0, "und")
        .when(g == F.col("s_en"), "en")
        .when(g == F.col("s_es"), "es")
        .when(g == F.col("s_de"), "de")
        .when(g == F.col("s_fr"), "fr")
        .otherwise("zh")
    )
    tot = sum(cols[1:], cols[0])
    n_langs = sum(
        (F.when(c > 0, 1).otherwise(0) for c in cols[1:]),
        F.when(cols[0] > 0, 1).otherwise(0),
    ).cast("long")
    dom = F.when(tot == 0, F.lit(None)).otherwise(F.round(g * 1.0 / tot, 4))
    mixed = ((n_langs >= 2) & (g * 2 <= tot)).cast("long")
    return s.select(
        "doc_id",
        pred.alias("pred_lang"),
        n_langs.alias("n_langs"),
        dom.alias("dom_ratio"),
        mixed.alias("is_mixed"),
    )


#: corpus-LM vocabulary size for q24's coverage score: a doc's bigrams
#: are checked against the corpus's top-K most frequent bigrams
_LM_VOCAB_K = 1000


def _lr_ctes(iters: int, eta: float, k: int = 5) -> str:
    """DuckDB mirror of operators/quality_classifier.py — generated so
    the per-iteration CTEs can't drift from the loop structure. Every
    arithmetic shape matches the module docstring formula verbatim
    (double-the-exact-integer-sum FIRST, left-associative logit,
    1000000.0/(1+exp) micro-quantization, eta*float(g)/(1e9*n))."""
    xs = [
        "n_chars",
        "n_tokens",
        "round(1000.0 * n_chars / n_tokens)",
        "round(1000.0 * n_stop / n_tokens)",
        "round(1000.0 * n_punct / n_tokens)",
    ]
    feat_cols = ", ".join(f"cast({e} AS BIGINT) AS r{i+1}" for i, e in enumerate(xs))
    sums = ", ".join(
        f"sum(r{i+1}) AS s{i+1}, sum(r{i+1}*r{i+1}) AS q{i+1}" for i in range(k)
    )

    def _sd(i):
        mu = f"(s{i}*1.0/n)"
        var = f"(q{i}*1.0/n - {mu}*{mu})"
        return f"(CASE WHEN {var} > 0 THEN sqrt({var}) ELSE 1.0 END)"

    zs = ", ".join(
        f"cast(round(1000.0*(r{i+1} - (s{i+1}*1.0/n)) / {_sd(i+1)}) AS BIGINT)"
        f" AS z{i+1}"
        for i in range(k)
    )
    logit = "(" + " + ".join(f"w.c{j}*z.z{j}" for j in range(k + 1)) + ")/1000.0"
    out = [
        f"lrf AS (SELECT doc_id, {feat_cols},"
        " CASE WHEN 1.0/(1.0 + exp(-(0.002*n_chars + 2.0*(n_stop*1.0/n_tokens)"
        " - 1.5*(n_punct*1.0/n_tokens) - 0.5))) > 0.5 THEN 1 ELSE 0 END AS y"
        " FROM f)",
        f"lrs AS (SELECT count(*) AS n, {sums} FROM lrf)",
        f"lrz AS (SELECT doc_id, y, cast(1000 AS BIGINT) AS z0, {zs} FROM lrf, lrs)",
        "lrw0 AS (SELECT " + ", ".join(f"0.0 AS c{j}" for j in range(k + 1)) + ")",
    ]
    for t in range(1, iters + 1):
        out.append(
            f"lrp{t} AS (SELECT z.*, cast(round(1000000.0 /"
            f" (1.0 + exp(-({logit})))) AS BIGINT) AS pmu"
            f" FROM lrz z, lrw{t-1} w)"
        )
        out.append(
            f"lrg{t} AS (SELECT "
            + ", ".join(
                f"sum((pmu - 1000000*y)*z{j}) AS g{j}" for j in range(k + 1)
            )
            + f" FROM lrp{t})"
        )
        out.append(
            f"lrw{t} AS (SELECT "
            + ", ".join(
                f"w.c{j} - {eta}*(g.g{j}*1.0)/(1000000000.0*s.n) AS c{j}"
                for j in range(k + 1)
            )
            + f" FROM lrw{t-1} w, lrg{t} g, lrs s)"
        )
    out.append(
        f"lrsc AS (SELECT z.doc_id, round(1.0/(1.0 + exp(-({logit}))), 4)"
        f" AS lr_quality FROM lrz z, lrw{iters} w)"
    )
    return ",\n    ".join(out)


from pmocr_spark.operators.quality_classifier import ETA as _LR_ETA
from pmocr_spark.operators.quality_classifier import ITERS as _LR_ITERS

_LR_SQL = _lr_ctes(_LR_ITERS, _LR_ETA)


@query(
    "q24_quality_score",
    f"""
    WITH f AS (
      SELECT doc_id,
             n_chars,
             len(string_split_regex(trim(text), '\\s+'))            AS n_tokens,
             len(regexp_extract_all(text, '[.,;:!?]'))              AS n_punct,
             cast(floor((length(lower(text)) - length(replace(lower(text), ' the ', '')))
                  / 5) AS BIGINT)                                   AS n_stop,
             cast(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT)                                        AS n_syll,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))   AS n_sent,
             -- Shannon char entropy in integer micro-nats: per-char
             -- terms round BEFORE the (order-free integer) sum; the
             -- final division is integer // (mirrors Spark `div`)
             cast(round(1000000.0 * ln(length(text))) AS BIGINT)
             - cast(list_sum(list_transform(
                 list_sort(list_distinct(string_split(text, ''))),
                 c -> cast(round(1000000.0
                       * len(list_filter(string_split(text, ''), x -> x = c))
                       * ln(len(list_filter(string_split(text, ''), x -> x = c))))
                      AS BIGINT))) AS BIGINT)
               // length(text)                                      AS char_entropy_micro
      FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w FROM documents),
    g AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) bg
      FROM t),
    topv AS (
      SELECT bg FROM (
        SELECT bg, row_number() OVER (ORDER BY count(*) DESC, bg ASC) AS rn
        FROM g GROUP BY bg) WHERE rn <= {_LM_VOCAB_K}),
    pd AS (SELECT doc_id, count(*) AS n_bg FROM g GROUP BY doc_id),
    hit AS (SELECT doc_id, count(*) AS n_hit FROM g JOIN topv USING (bg) GROUP BY doc_id),
    cov AS (
      SELECT f.doc_id, n_chars, n_tokens, n_punct, n_stop, n_syll, n_sent,
             char_entropy_micro,
             round(coalesce(n_hit, 0) * 1.0 / n_bg, 4)              AS common_bigram_frac
      FROM f LEFT JOIN pd ON f.doc_id = pd.doc_id
             LEFT JOIN hit ON f.doc_id = hit.doc_id),
    -- CCNet-style corpus tertiles over the LM score: rank desc with a
    -- doc_id tiebreak (unique), integer-arithmetic thresholds
    r AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY common_bigram_frac DESC, doc_id ASC) AS rnk,
             count(*) OVER () AS n
      FROM cov WHERE common_bigram_frac IS NOT NULL),
    -- Stupid Backoff (Brants EMNLP'07): bigram/unigram counts trained
    -- on even doc_ids; C(w1) = bigram-left occurrences (so the
    -- conditional normalizes); per-transition ln rounded to micro-units
    -- BEFORE the k-weighted sum — mirrors the Spark arm exactly
    sbu AS (
      SELECT string_split(bg, ' ')[1] AS wd, cast(count(*) AS BIGINT) AS c
      FROM g WHERE doc_id % 2 = 0 GROUP BY 1),
    sbs AS (SELECT cast(sum(c) AS BIGINT) AS n_tok,
                   cast(count(*) AS BIGINT) AS vsz FROM sbu),
    sbb AS (SELECT bg, cast(count(*) AS BIGINT) AS cb
            FROM g WHERE doc_id % 2 = 0 GROUP BY bg),
    sbk AS (SELECT doc_id, bg, cast(count(*) AS BIGINT) AS k
            FROM g GROUP BY doc_id, bg),
    sbj AS (
      SELECT s.doc_id, s.k,
             cast(round(1000000.0 * (CASE WHEN b.cb IS NOT NULL
                  THEN ln(b.cb / u1.c)
                  ELSE ln(0.4 * ((coalesce(u2.c, 0) + 1) / (n_tok + vsz)))
                  END), 0) AS BIGINT) AS lp_u
      FROM sbk s
      LEFT JOIN sbb b USING (bg)
      LEFT JOIN sbu u1 ON u1.wd = string_split(s.bg, ' ')[1]
      LEFT JOIN sbu u2 ON u2.wd = string_split(s.bg, ' ')[2], sbs),
    sbd AS (SELECT doc_id, cast(sum(k * lp_u) AS BIGINT) AS sb_lp_micro
            FROM sbj GROUP BY doc_id),
    -- Interpolated Kneser–Ney (Kneser & Ney ICASSP'95 / Chen & Goodman
    -- CSL'99): discount 0.75, continuation probs from bigram TYPE
    -- counts, add-1 on continuation for OOV; float expression tree
    -- mirrors the Spark arm token-for-token
    knf AS (SELECT string_split(bg, ' ')[1] AS w1, cast(count(*) AS BIGINT) AS nf
            FROM sbb GROUP BY 1),
    kn2 AS (SELECT string_split(bg, ' ')[2] AS w2, cast(count(*) AS BIGINT) AS n2
            FROM sbb GROUP BY 1),
    knb AS (SELECT cast(count(*) AS BIGINT) AS bsz FROM sbb),
    knj AS (
      SELECT s.doc_id, s.k,
             cast(round(1000000.0 * (CASE WHEN u1.c IS NOT NULL
                  THEN ln(greatest(coalesce(b.cb, 0) - 0.75, 0.0) / u1.c
                       + ((0.75 * f.nf) / u1.c)
                         * ((coalesce(n2.n2, 0) + 1) / (bsz + vsz + 1)))
                  ELSE ln((coalesce(n2.n2, 0) + 1) / (bsz + vsz + 1))
                  END), 0) AS BIGINT) AS lp_u
      FROM sbk s
      LEFT JOIN sbb b USING (bg)
      LEFT JOIN sbu u1 ON u1.wd = string_split(s.bg, ' ')[1]
      LEFT JOIN knf f ON f.w1 = string_split(s.bg, ' ')[1]
      LEFT JOIN kn2 n2 ON n2.w2 = string_split(s.bg, ' ')[2], sbs, knb),
    knd AS (SELECT doc_id, cast(sum(k * lp_u) AS BIGINT) AS kn_lp_micro
            FROM knj GROUP BY doc_id),
    -- trigram novelty: fraction of a doc's distinct 3-gram shingles
    -- with corpus df = 1 (the memorization-risk/boilerplate dial)
    nvg AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS sg
      FROM documents WHERE len({_TOKS_SQL}) >= 3),
    nvdf AS (SELECT sg, count(*) AS dfc FROM nvg GROUP BY sg),
    nvd AS (
      SELECT doc_id,
             round(sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) * 1.0
                   / count(*), 4) AS novel_trigram_frac
      FROM nvg JOIN nvdf USING (sg) GROUP BY doc_id),
    {_LR_SQL}
    SELECT c.doc_id, n_tokens,
           round(n_punct * 1.0 / n_tokens, 4)                       AS punct_ratio,
           round(n_stop * 1.0 / n_tokens, 4)                        AS stop_ratio,
           round(n_chars * 1.0 / n_tokens, 4)                       AS avg_tok_len,
           round(1.0 / (1.0 + exp(-(0.002 * n_chars + 2.0 * (n_stop * 1.0 / n_tokens)
                 - 1.5 * (n_punct * 1.0 / n_tokens) - 0.5))), 4)    AS quality,
           n_syll                                                   AS n_syllables,
           round(0.39 * n_tokens / n_sent + 11.8 * n_syll / n_tokens
                 - 15.59, 4)                                        AS fk_grade,
           c.common_bigram_frac,
           CASE WHEN r.rnk IS NULL THEN NULL
                WHEN r.rnk * 3 <= r.n THEN 'head'
                WHEN r.rnk * 3 <= 2 * r.n THEN 'middle'
                ELSE 'tail' END                                     AS lm_bucket,
           c.char_entropy_micro,
           nvd.novel_trigram_frac,
           lrsc.lr_quality,
           sbd.sb_lp_micro,
           knd.kn_lp_micro
    FROM cov c LEFT JOIN r ON c.doc_id = r.doc_id
               LEFT JOIN nvd ON c.doc_id = nvd.doc_id
               LEFT JOIN lrsc ON c.doc_id = lrsc.doc_id
               LEFT JOIN sbd ON c.doc_id = sbd.doc_id
               LEFT JOIN knd ON c.doc_id = knd.doc_id
    """,
)
def q24_quality_score(spark, sf_dir):
    """Quality scoring family: length/punct/stopword features ->
    logistic score (Gopher/C4-style heuristic filters, deterministic
    arithmetic) PLUS a corpus-LM coverage score (round 4) — the
    CCNet-style 'how typical is this document under the corpus language
    model' signal, stated as the fraction of the doc's bigram
    occurrences found in the corpus's top-1000 bigram vocabulary.
    Gibberish/OCR-garbage docs score near 0, ordinary prose high. The
    coverage form keeps exact cross-engine parity: integer counts and
    ONE division per doc — a log-prob sum would be float-summation-
    order-dependent and could never hash-match the oracle.

    Scale: vocabulary = one count agg + TakeOrderedAndProject (q44's
    top-k shape, never a global sort) -> broadcast to the per-doc
    membership join; two keyed aggs on near-unique (doc) keys. Docs
    with < 2 tokens have no bigrams -> NULL coverage (both engines).

    Round 5 adds `lm_bucket` — CCNet's (Wenzek et al., LREC 2020,
    public) head/middle/tail corpus tertiles over the LM score, the
    knob real pipelines use to keep the best-scoring third. Bucketing
    at 10^12 docs uses the q37 two-pass rank (range partition -> local
    row_number -> broadcast offsets) plus a broadcast 1-row total, so
    there is no global sort and no single-partition window anywhere
    (test_q24_lm_bucket_no_global_window).

    Round 5 also adds `lr_quality` — a TRAINED fastText-style quality
    classifier (operators/quality_classifier.py): full-batch logistic
    regression whose gradients are exact integer sums (standardized
    integer milli-z features, micro-quantized probabilities), so the
    weight trajectory is bit-identical across engines and
    partitionings and the trained model's per-doc scores sit under the
    driver's hash gate — a learned model verified to 4 decimals by an
    independent SQL implementation of the same training loop.

    Round 5 (fourth pass) adds `sb_lp_micro` — a REAL n-gram LM score:
    Stupid Backoff (Brants et al., EMNLP 2007, the distributed
    MapReduce LM built for trillion-token corpora), trained on the
    even-doc_id half and scoring every doc's bigram transitions, with
    the held-out odd half exercising the backoff path by construction.
    The per-doc log score is an exact integer (micro-log units, rounded
    per distinct transition before the weighted sum) so it hash-matches
    the independent SQL training+scoring implementation. This is the
    perplexity-filter signal CCNet/ccnet-style pipelines actually rank
    by; lm_bucket's tertiles show the selection mechanics over the
    cheaper coverage score.

    Round 5 (seventh pass) adds `kn_lp_micro` — interpolated
    Kneser–Ney (Kneser & Ney ICASSP 1995; Chen & Goodman CSL 1999),
    the smoothing family KenLM ships and CCNet's published filter
    actually uses, next to Stupid Backoff for a same-corpus A/B:
    absolute discount 0.75, continuation probabilities from bigram
    TYPE counts. Same integer micro-unit parity discipline; the
    type-count tables derive from the already-aggregated bigram model
    (no extra corpus scan).

    Round 5 (tenth pass) adds `n_syllables` / `fk_grade` — Flesch-
    Kincaid grade level (Kincaid et al. 1975), the classic readability
    filter signal: syllables by the vowel-group heuristic (one codegen
    regexp count), sentences by terminal-punctuation runs floored at 1
    (the synthetic corpus is unpunctuated — one sentence per doc,
    degenerate but correct; real text exercises the full formula).
    Pure map-side expressions, zero additional shuffles."""
    d = _t(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    f = d.select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.regexp_count("text", F.lit("[.,;:!?]")).alias("n_punct"),
        F.floor((F.length(lt) - F.length(F.replace(lt, F.lit(" the ")))) / 5)
        .cast("long")
        .alias("n_stop"),
        # round 5 (tenth pass): readability inputs — syllables by the
        # standard vowel-group heuristic (one codegen regexp count),
        # sentences by terminal-punctuation runs with a floor of 1 (the
        # whole doc is one sentence when unpunctuated, as the synthetic
        # corpus is — degenerate but correct; real text exercises it)
        F.regexp_count(lt, F.lit("[aeiouy]+")).cast("long").alias("n_syll"),
        F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count("text", F.lit("[.!?]+")).cast("long"),
        ).alias("n_sent"),
    )
    # round 5 (fourteenth pass): Shannon character entropy (the
    # CCNet-family gibberish/binary-noise signal — natural text sits
    # ~2.5-4.5 nats, base64 blobs and key-mash noise higher, aaaa-runs
    # lower). H = ln(n) - (Σ_c cnt·ln(cnt))/n; each term rounds to
    # INTEGER micro-nats before the sum and the final division is
    # integer `div`, so parity is exact by construction AND
    # order-free — which is what makes the fast plan legal: a
    # codegen'd explode -> (doc, char) hash agg -> per-doc integer
    # sum, instead of per-row nested higher-order lambdas (those run
    # INTERPRETED — the first cut cost ~4x the whole q24 family at
    # sf0.1). Shuffle key (doc_id, char) is near-unique: no skew.
    ent_cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    # round 5 (fourteenth pass): trigram novelty — the fraction of a
    # doc's DISTINCT 3-gram shingles that appear in NO other document
    # (df == 1). The memorization-risk/boilerplate dial: near-0 means
    # the doc is assembled from corpus-common phrasing (template
    # floods score 0 outright), near-1 means genuinely novel text.
    # Set semantics via the same _shingles_df every dedup arm uses;
    # one shingle-keyed df agg + one join back + one doc agg — the
    # inverted-index shape, map-side combined, no skew beyond the df
    # table's natural Heaps bound. Docs under 3 tokens -> NULL.
    sh3 = _shingles_df(spark, sf_dir)
    nvdf = sh3.groupBy("shingle").agg(F.count("*").alias("dfc"))
    nvd = (
        sh3.join(nvdf, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("dfc") == 1).cast("long")).alias("u"),
            F.count("*").alias("t"),
        )
        .select(
            "doc_id",
            F.round(F.col("u") / F.col("t"), 4).alias("novel_trigram_frac"),
        )
    )
    ent = (
        ent_cnt.groupBy("doc_id")
        .agg(
            F.sum(
                F.round(
                    F.lit(1000000.0)
                    * F.col("c")
                    * F.log(F.col("c").cast("double")),
                    0,
                ).cast("long")
            ).alias("smic"),
            F.sum("c").alias("nch"),
        )
        .select(
            "doc_id",
            (
                F.round(
                    F.lit(1000000.0) * F.log(F.col("nch").cast("double")), 0
                ).cast("long")
                - F.expr("smic div nch")
            ).alias("char_entropy_micro"),
        )
    )
    # five consumers now share the exploded bigram frame (coverage's
    # topv/per_doc/hits + stupid-backoff's train counts/transitions):
    # session-cache it so the corpus tokenizes once, not five times
    grams = _cached_df(
        spark, sf_dir, "documents.parquet", "q24_bigrams",
        lambda: _ngram_rows(d, 2, "bg"),
    )
    topv = (
        grams.groupBy("bg")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bg").asc())
        .limit(_LM_VOCAB_K)
        .select("bg")
    )
    per_doc = grams.groupBy("doc_id").agg(F.count("*").alias("n_bg"))
    hits = grams.join(F.broadcast(topv), "bg").groupBy("doc_id").agg(
        F.count("*").alias("n_hit")
    )
    coverage = per_doc.join(hits, "doc_id", "left").select(
        "doc_id",
        F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_bg"), 4).alias(
            "common_bigram_frac"
        ),
    )
    # CCNet-style head/middle/tail bucketing over the LM score (round
    # 5): corpus tertiles via the q37 two-pass rank — range partition,
    # local row_number, broadcast offsets — NEVER a single-partition
    # global window; the tertile thresholds come from a 1-row count
    # broadcast, integer arithmetic only (rnk*3 vs n) so parity is
    # exact. Docs without a score (under 2 tokens) get a NULL bucket.
    from .operators.graph import iter_checkpoint

    covnn = iter_checkpoint(
        coverage.filter(F.col("common_bigram_frac").isNotNull())
    )
    ranked = _two_pass_rank(
        covnn,
        [F.col("common_bigram_frac").desc(), F.col("doc_id").asc()],
        "doc_id",
    )
    tot = covnn.agg(F.count("*").alias("n"))
    bucket = ranked.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.when(F.col("rnk") * 3 <= F.col("n"), "head")
        .when(F.col("rnk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("lm_bucket"),
    )
    # Stupid Backoff LM scoring (Brants et al., EMNLP 2007 §4 — the
    # original distributed MapReduce LM, built for exactly this
    # corpus-scale setting): train bigram/unigram counts on the
    # even-doc_id half (the CCNet discipline — score with a model the
    # scored text did not train; self-trained bigrams would make the
    # backoff path dead code), score every doc's transitions with
    # S(w2|w1) = C(w1 w2)/C(w1) when the bigram is known, else
    # 0.4 * (C(w2)+1)/(N+V) (the paper's alpha=0.4; add-1 on the
    # unigram backoff so OOV words stay finite — documented deviation).
    # Parity discipline: each DISTINCT (doc, bigram) transition's
    # ln(S) rounds to integer micro-units BEFORE the k-weighted sum
    # (DSIR's lesson), so the per-doc total is an exact BIGINT.
    # Scale: count tables are Heaps-law-small vs the corpus; the
    # transitions frame is pre-reduced per (doc, bigram) — map-side
    # combine softens stopword-bigram hot keys before the three
    # term-keyed equi-joins (broadcast when the model fits, sort-merge
    # beyond); one final per-doc agg. The corpus tokenizes once (the
    # cached grams frame feeds coverage AND this).
    sb_train = grams.filter(F.col("doc_id") % 2 == 0)
    sb_uni = (
        sb_train.select(F.get(F.split("bg", " "), 0).alias("wd"))
        .groupBy("wd")
        .agg(F.count("*").cast("long").alias("c"))
    )
    # unigram counts derive from bigram w1 occurrences: every token of a
    # doc appears exactly once as a bigram LEFT element except the last
    # token — the standard conditional-history count C(w1) needs exactly
    # this (denominator of C(w1 w2)/C(w1)); N/V follow from the same
    # frame so model normalization is self-consistent
    sb_stats = sb_uni.agg(
        F.sum("c").cast("long").alias("n_tok"), F.count("*").cast("long").alias("vsz")
    )
    sb_bi = sb_train.groupBy("bg").agg(F.count("*").cast("long").alias("cb"))
    sb_k = (
        grams.groupBy("doc_id", "bg")
        .agg(F.count("*").cast("long").alias("k"))
        .select(
            "*",
            F.get(F.split("bg", " "), 0).alias("w1"),
            F.get(F.split("bg", " "), 1).alias("w2"),
        )
    )
    ln_s = F.when(
        F.col("cb").isNotNull(), F.log(F.col("cb") / F.col("c1"))
    ).otherwise(
        F.log(
            F.lit(0.4)
            * ((F.coalesce(F.col("c2"), F.lit(0)) + 1) / (F.col("n_tok") + F.col("vsz")))
        )
    )
    sbd = (
        sb_k.join(sb_bi, "bg", "left")
        .join(sb_uni.select(F.col("wd").alias("w1"), F.col("c").alias("c1")), "w1", "left")
        .join(sb_uni.select(F.col("wd").alias("w2"), F.col("c").alias("c2")), "w2", "left")
        .crossJoin(F.broadcast(sb_stats))
        .select(
            "doc_id",
            (F.col("k") * F.round(F.lit(1000000.0) * ln_s, 0).cast("long")).alias("t"),
        )
        .groupBy("doc_id")
        .agg(F.sum("t").alias("sb_lp_micro"))
    )
    # Interpolated Kneser–Ney (Kneser & Ney, ICASSP 1995; interpolated
    # form per Chen & Goodman, CSL 1999 — the KenLM model class CCNet's
    # perplexity filter actually ships, vs Stupid Backoff's score-only
    # shortcut): same even-half training counts, absolute discount
    # d=0.75, continuation probability from bigram TYPE counts (the KN
    # insight: 'Francisco' is frequent but follows only 'San', so its
    # continuation weight is tiny).
    #   known history w1:  P = max(c(w1w2)-d, 0)/c(w1)
    #                          + (d·N1+(w1,·)/c(w1)) · Pcont(w2)
    #   unseen history:    P = Pcont(w2)
    #   Pcont(w2) = (N1+(·,w2)+1)/(B+V+1)   (add-1 keeps OOV w2 finite
    #   — same documented deviation as the SB arm's backoff).
    # Parity: counts are exact integers; per distinct (doc,bigram) the
    # ln rounds to micro-units BEFORE the k-weighted sum, and the float
    # expression tree mirrors the oracle token-for-token. Scale: two
    # more Heaps-small TYPE-count tables derived from sb_bi (no new
    # corpus scan), then the same term-keyed equi-join shape as SB.
    kn_n1f = (
        sb_bi.select(F.get(F.split("bg", " "), 0).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").cast("long").alias("nf"))
    )
    kn_n2 = (
        sb_bi.select(F.get(F.split("bg", " "), 1).alias("w2"))
        .groupBy("w2")
        .agg(F.count("*").cast("long").alias("n2"))
    )
    kn_b = sb_bi.agg(F.count("*").cast("long").alias("bsz"))
    kn_pc = (F.coalesce(F.col("n2"), F.lit(0)) + 1) / (
        F.col("bsz") + F.col("vsz") + 1
    )
    ln_kn = F.when(
        F.col("c1").isNotNull(),
        F.log(
            F.greatest(
                F.coalesce(F.col("cb"), F.lit(0)) - F.lit(0.75), F.lit(0.0)
            )
            / F.col("c1")
            + ((F.lit(0.75) * F.col("nf")) / F.col("c1")) * kn_pc
        ),
    ).otherwise(F.log(kn_pc))
    knd = (
        sb_k.join(sb_bi, "bg", "left")
        .join(sb_uni.select(F.col("wd").alias("w1"), F.col("c").alias("c1")), "w1", "left")
        .join(kn_n1f, "w1", "left")
        .join(kn_n2, "w2", "left")
        .crossJoin(F.broadcast(sb_stats))
        .crossJoin(F.broadcast(kn_b))
        .select(
            "doc_id",
            (F.col("k") * F.round(F.lit(1000000.0) * ln_kn, 0).cast("long")).alias("t"),
        )
        .groupBy("doc_id")
        .agg(F.sum("t").alias("kn_lp_micro"))
    )
    punct_ratio = F.col("n_punct") / F.col("n_tokens")
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    quality = 1.0 / (
        1.0
        + F.exp(
            -(0.002 * F.col("n_chars") + 2.0 * stop_ratio - 1.5 * punct_ratio - 0.5)
        )
    )
    # trained quality classifier (round 5): full-batch logistic
    # regression in exact integer micro-units (operators/
    # quality_classifier.py) — labels are the fixed-weight heuristic's
    # verdict, features the raw counts, so the column demonstrates the
    # LEARNED filter real pipelines deploy. One stats agg + ITERS
    # gradient aggs, each map-side combined to K+1 numbers; the model
    # lives on the driver. The z-frame is cached: scanned ITERS+1 times.
    from .operators import quality_classifier as qc

    xcols = ["r1", "r2", "r3", "r4", "r5"]
    feats = iter_checkpoint(
        f.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("r1"),
            F.col("n_tokens").cast("long").alias("r2"),
            F.round(F.lit(1000.0) * F.col("n_chars") / F.col("n_tokens"), 0)
            .cast("long")
            .alias("r3"),
            F.round(F.lit(1000.0) * F.col("n_stop") / F.col("n_tokens"), 0)
            .cast("long")
            .alias("r4"),
            F.round(F.lit(1000.0) * F.col("n_punct") / F.col("n_tokens"), 0)
            .cast("long")
            .alias("r5"),
            (quality > 0.5).cast("long").alias("y"),
        )
    )
    n_lr, mu, sd = qc.standardize_stats(feats, xcols)
    z = iter_checkpoint(qc.z_frame(feats, xcols, mu, sd, "y", ["doc_id"]))
    w_lr = qc.train(z, k=len(xcols), n=n_lr)
    lr = z.select("doc_id", F.round(qc.score_col(w_lr), 4).alias("lr_quality"))

    return (
        f.join(coverage, "doc_id", "left")
        .join(bucket, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(punct_ratio, 4).alias("punct_ratio"),
            F.round(stop_ratio, 4).alias("stop_ratio"),
            F.round(F.col("n_chars") / F.col("n_tokens"), 4).alias("avg_tok_len"),
            F.round(quality, 4).alias("quality"),
            # Flesch-Kincaid grade (Kincaid et al. 1975, the Navy
            # readability report): 0.39·(W/S) + 11.8·(syll/W) − 15.59,
            # identical fixed-order double expression in the oracle so
            # the round(…, 4) hash-matches
            F.col("n_syll").alias("n_syllables"),
            F.round(
                F.lit(0.39) * F.col("n_tokens") / F.col("n_sent")
                + F.lit(11.8) * F.col("n_syll") / F.col("n_tokens")
                - F.lit(15.59),
                4,
            ).alias("fk_grade"),
            "common_bigram_frac",
            "lm_bucket",
        )
        .join(ent, "doc_id", "left")
        .join(nvd, "doc_id", "left")
        .join(lr, "doc_id", "left")
        .join(sbd, "doc_id", "left")
        .join(knd, "doc_id", "left")
    )


@query(
    "q25_token_count",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+'))                        AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))      AS bpe_ish_tokens,
           n_chars
    FROM documents
    """,
)
def q25_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")).cast("long").alias("bpe_ish_tokens"),
        "n_chars",
    )


from pmocr_spark.operators.winnow import DEFAULT_K as _WIN_K
from pmocr_spark.operators.winnow import DEFAULT_W as _WIN_W

# q26's winnow arm restates the operator's (k, w) defaults in SQL; the
# f-string below derives every constant from the module so the two
# can't drift (the _SUBSTR_K convention).


@query(
    "q26_fingerprint",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents),
    flat AS (
      SELECT doc_id, unnest(ws) AS t, generate_subscripts(ws, 1) AS i
      FROM tok),
    rolling AS (
      SELECT 'rolling' AS part, doc_id, cast(0 AS BIGINT) AS pos,
             cast(sum(i * (('0x' || substr(md5(t), 1, 7))::BIGINT))
                  % 2147483647 AS BIGINT) AS fp
      FROM flat GROUP BY doc_id),
    -- winnowing (Schleimer SIGMOD'03), k={_WIN_K} w={_WIN_W}: k-gram
    -- hashes with 0-based positions, then per complete window of
    -- {_WIN_W} grams keep the min-hash gram (rightmost on ties),
    -- deduped. Same 7-hex-digit md5 -> BIGINT hash as the Spark side.
    kg AS (
      SELECT doc_id, cast(i - 1 AS BIGINT) AS pos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(ws, i, i + {_WIN_K - 1}), ' ')), 1, 7))::BIGINT AS fp
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - {_WIN_K - 1})) AS i
            FROM tok)),
    nk AS (SELECT doc_id, max(pos) AS mp FROM kg GROUP BY doc_id),
    win AS (
      SELECT doc_id, unnest(generate_series(0, mp - {_WIN_W - 1})) AS i
      FROM nk WHERE mp >= {_WIN_W - 1}),
    cand AS (
      SELECT w.doc_id, k.pos, k.fp,
             row_number() OVER (PARTITION BY w.doc_id, w.i
                                ORDER BY k.fp ASC, k.pos DESC) AS rn
      FROM win w JOIN kg k
        ON k.doc_id = w.doc_id AND k.pos BETWEEN w.i AND w.i + {_WIN_W - 1}),
    winnow AS (
      SELECT DISTINCT 'winnow' AS part, doc_id, pos, fp FROM cand WHERE rn = 1)
    SELECT * FROM rolling UNION ALL SELECT * FROM winnow
    """,
)
def q26_fingerprint(spark, sf_dir):
    """Document-fingerprint family in ONE gate slot, `part`-discriminated:
      * part='rolling': whole-document rolling hash — position-weighted
        token hashes mod a prime, order-sensitive (catches
        shuffled-content dups that bag-of-words hashing misses). One
        hash agg; pos pinned 0.
      * part='winnow' (round 5): winnowing local fingerprints
        (Schleimer, Wilkerson & Aiken SIGMOD'03 — the MOSS scheme,
        operators/winnow.py): min-hash-per-window k-gram selection
        with the rightmost tie-break, deduped per doc. The driver
        verifies the SELECTED positions and hashes themselves — window
        minima, tie direction, completeness boundary — not a lifted
        equality class. Any >= k+w-1 = 8-word shared run between two
        docs is guaranteed a shared fingerprint (the partial-overlap
        detection exact substring dedup pays full gram storage for).

    Scale: rolling is one map-side-combined agg. Winnowing is one
    Window(doc_id) sorted scan (min(struct(fp, -pos)) over a ROWS
    [0, w-1] frame — no w-times fan-out join) plus a distinct whose
    map-side partial agg absorbs each winner's per-window repeats;
    cross-doc matching is then an fp equi-join (winnow.
    shared_fingerprint_pairs), never doc x doc."""
    from .operators.winnow import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(_toks_col()).alias("pos", "t"))
    tokval = F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 7), 16, 10).cast("long")
    rolling = tok.groupBy("doc_id").agg(
        (F.sum((F.col("pos") + 1) * tokval) % 2147483647).cast("long").alias("fp")
    ).select(
        F.lit("rolling").alias("part"), "doc_id", F.lit(0).cast("long").alias("pos"), "fp"
    )
    wn = winnow_fingerprints(d).select(
        F.lit("winnow").alias("part"), "doc_id", "pos", "fp"
    )
    return rolling.unionByName(wn)


# =====================================================================
# 5. OCR-engine queries (pandas-UDF path, oracle-checked via round-trip)
# =====================================================================


@query(
    "q27_media_roundtrip",
    """
    WITH clean AS (
      SELECT doc_id, trim(regexp_replace(text, '[^ -~]', '', 'g')) AS t
      FROM documents
    ),
    lines AS (
      -- regex chunking wraps at ANY text length (no fixed series cap
      -- to fall out of sync with the unbounded Spark-side wrap);
      -- clean text is newline-free so '.' covers every char
      SELECT doc_id, generate_subscripts(c, 1) - 1 AS line_no,
             unnest(c) AS line
      FROM (SELECT doc_id, regexp_extract_all(t, '.{1,40}') AS c FROM clean)
    ),
    pieces AS (
      SELECT doc_id, line_no, generate_subscripts(ps, 1) AS i, unnest(ps) AS pc
      FROM (SELECT doc_id, line_no, string_split(line, ' ') AS ps FROM lines)
    ),
    pos AS (
      SELECT doc_id, line_no, i, pc,
             1 + (i - 1) + coalesce(sum(length(pc)) OVER (
                 PARTITION BY doc_id, line_no ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_p
      FROM pieces
    ),
    -- geometric table reconstruction (part='cell'): expected cells by
    -- occupied-union / separator-run (>= 2 blank cols) / dense-column
    -- arithmetic over the deterministic 2x3 space-padded table rows
    celltbl AS (
      SELECT doc_id,
             rpad(substr(s, 1, 8), 10, ' ') || rpad(substr(s, 9, 6), 8, ' ')
               || substr(s, 15, 7) AS row1,
             rpad(substr(s, 22, 8), 10, ' ') || rpad(substr(s, 30, 6), 8, ' ')
               || substr(s, 36, 7) AS row2
      FROM (SELECT doc_id, replace(t, ' ', '_') AS s FROM clean)
    ),
    cpos AS (
      SELECT doc_id, p,
             (substr(row1, p, 1) NOT IN ('', ' ')
              OR substr(row2, p, 1) NOT IN ('', ' ')) AS occ
      FROM celltbl, generate_series(1, 25) AS g(p)
    ),
    cseprun AS (
      SELECT doc_id, min(p) AS a, max(p) AS b
      FROM (SELECT doc_id, p,
                   p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
            FROM cpos WHERE NOT occ)
      GROUP BY doc_id, grp HAVING count(*) >= 2
    ),
    ccolg AS (
      SELECT o.doc_id, o.p,
             (SELECT count(*) FROM cseprun s
              WHERE s.doc_id = o.doc_id AND s.b < o.p) AS colg
      FROM cpos o WHERE o.occ
    ),
    ccols AS (
      SELECT doc_id, colg, min(p) AS a, max(p) AS b
      FROM ccolg GROUP BY doc_id, colg
    ),
    ccols2 AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY colg) - 1 AS col_no,
             a, b
      FROM ccols
    ),
    crows AS (
      SELECT doc_id, k, rt,
             row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS row_no
      FROM (SELECT doc_id, k, CASE WHEN k = 1 THEN row1 ELSE row2 END AS rt
            FROM celltbl, unnest([1, 2]) AS u(k))
      WHERE trim(rt) <> ''
    ),
    -- CER/WER (part='cer'): degraded = per 0-based char position i,
    -- drop when i%7=6 else '#' when i%11=10 (DuckDB lambda index is
    -- 1-based). CER via DuckDB's INDEPENDENT levenshtein() over the
    -- full text (printable-ASCII, so DuckDB's byte distance == Spark's
    -- codepoint distance); WER over the first-40-word prefix via a
    -- word -> single-ASCII-char recode (union vocab <= 80, every word
    -- a distinct 1-byte chr(32+rank)) + levenshtein on the recoded
    -- strings — edit distance is invariant under token relabeling, so
    -- the recode order is free
    cerp AS (
      SELECT doc_id, g, x, gp,
             array_to_string(list_filter(list_transform(string_split(gp, ''),
               (ch, i) -> CASE WHEN (i - 1) % 11 = 10 THEN '#' ELSE ch END),
               (ch, i) -> (i - 1) % 7 != 6), '') AS xp
      FROM (
        SELECT doc_id, t AS g,
               array_to_string(list_filter(list_transform(string_split(t, ''),
                 (ch, i) -> CASE WHEN (i - 1) % 11 = 10 THEN '#' ELSE ch END),
                 (ch, i) -> (i - 1) % 7 != 6), '') AS x,
               array_to_string(list_slice(string_split(t, ' '), 1, 40), ' ') AS gp
        FROM clean)
    ),
    werw AS (
      SELECT doc_id, side, generate_subscripts(ws, 1) AS p, unnest(ws) AS w
      FROM (SELECT doc_id, 'g' AS side, string_split(gp, ' ') AS ws
            FROM cerp WHERE gp <> ''
            UNION ALL
            SELECT doc_id, 'x', string_split(xp, ' ')
            FROM cerp WHERE xp <> '')
    ),
    wmap AS (
      SELECT doc_id, w, dense_rank() OVER (PARTITION BY doc_id ORDER BY w) AS r
      FROM (SELECT DISTINCT doc_id, w FROM werw)
    ),
    wrec AS (
      SELECT doc_id, side,
             string_agg(chr(cast(32 + r AS INTEGER)), '' ORDER BY p) AS s
      FROM werw JOIN wmap USING (doc_id, w)
      GROUP BY doc_id, side
    ),
    wer AS (
      SELECT c.doc_id,
             levenshtein(coalesce(gr.s, ''), coalesce(xr.s, '')) AS wdist,
             CASE WHEN c.gp = '' THEN 0
                  ELSE len(string_split(c.gp, ' ')) END AS ngw
      FROM cerp c
      LEFT JOIN (SELECT doc_id, s FROM wrec WHERE side = 'g') gr USING (doc_id)
      LEFT JOIN (SELECT doc_id, s FROM wrec WHERE side = 'x') xr USING (doc_id)
    )
    SELECT 'word' AS part, doc_id, cast(line_no AS BIGINT) AS line_no,
           cast(row_number() OVER (PARTITION BY doc_id, line_no ORDER BY i) - 1
                AS BIGINT) AS word_no,
           pc AS text_out,
           cast(start_p AS BIGINT) AS x0,
           cast(line_no * 9 AS BIGINT) AS y0,
           cast(start_p + length(pc) AS BIGINT) AS x1,
           cast(line_no * 9 + 8 AS BIGINT) AS y1
    FROM pos WHERE pc <> ''
    UNION ALL
    SELECT 'text', doc_id, -1, -1, t, -1, -1, -1, -1 FROM clean
    UNION ALL
    SELECT 'cell', r.doc_id, cast(r.row_no AS BIGINT),
           cast(c.col_no AS BIGINT),
           trim(substr(r.rt, c.a, c.b - c.a + 1)),
           cast(c.a AS BIGINT), cast((r.k - 1) * 9 AS BIGINT),
           cast(c.b + 1 AS BIGINT), cast((r.k - 1) * 9 + 8 AS BIGINT)
    FROM crows r JOIN ccols2 c USING (doc_id)
    WHERE trim(substr(r.rt, c.a, c.b - c.a + 1)) <> ''
    UNION ALL
    -- deskew (round 5, seventh pass): the page is SHEARED at encode
    -- time by a per-doc drift (md5 arithmetic, -4..4 px — always
    -- within the decoder's `-deskew 40` threshold since the shortest
    -- page is 12 rows); the real estimate->unshear->decode chain must
    -- recover BOTH the exact drift (line_no column) and the
    -- byte-identical wrapped text
    -- single-line pages (<= 40 chars) alias drift +-3 with +-1 (the
    -- shift profiles differ by a constant on the 8 ink rows — decode
    -- is still exact, but the canonical estimate is the smaller one),
    -- so +-3 remaps to the alias-free +-2 there; enumeration over all
    -- page heights shows multi-line pages are alias-free across -4..4
    SELECT 'deskew', doc_id,
           cast(CASE WHEN length(t) <= 40 AND abs(d) = 3 THEN d // 3 * 2
                     ELSE d END AS BIGINT),
           -1,
           array_to_string(regexp_extract_all(t, '.{1,40}'), chr(10)),
           -1, -1, -1, -1
    FROM (SELECT doc_id, t,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 9 - 4 AS d
          FROM clean)
    UNION ALL
    -- extraction-quality eval (part='eval'): token P/R/F1 of the
    -- degraded extraction (drop every 5th token — DuckDB lambda index
    -- is 1-based, Spark's 0-based, both drop positions 5,10,...; every
    -- 9th doc appends a noise token) vs gold; tp restated via an
    -- INDEPENDENT unnest + least() multiset-intersection join
    SELECT 'eval', s.doc_id,
           cast(coalesce(t.tp, 0) AS BIGINT),
           cast(len(s.g) AS BIGINT),
           array_to_string(s.x, ' '),
           cast(len(s.x) AS BIGINT),
           cast(CASE WHEN len(s.x) > 0
                THEN (coalesce(t.tp, 0) * 1000000) // len(s.x) ELSE 0 END AS BIGINT),
           cast(CASE WHEN len(s.g) > 0
                THEN (coalesce(t.tp, 0) * 1000000) // len(s.g) ELSE 0 END AS BIGINT),
           cast(CASE WHEN len(s.g) + len(s.x) > 0
                THEN (2 * coalesce(t.tp, 0) * 1000000) // (len(s.g) + len(s.x))
                ELSE 0 END AS BIGINT)
    FROM (
      SELECT doc_id, g,
             list_concat(list_filter(g, (tok, i) -> i % 5 != 0),
                         CASE WHEN doc_id % 9 = 0 THEN ['ZZNOISE9']
                              ELSE []::VARCHAR[] END) AS x
      FROM (SELECT doc_id, string_split(t, ' ') AS g FROM clean)) s
    LEFT JOIN (
      SELECT gc.doc_id, sum(least(gc.c, xc.c)) AS tp
      FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM clean)
        GROUP BY doc_id, tok) gc
      JOIN (
        SELECT doc_id, tok, count(*) AS c
        FROM (
          SELECT doc_id,
                 unnest(list_concat(
                   list_filter(string_split(t, ' '), (tok, i) -> i % 5 != 0),
                   CASE WHEN doc_id % 9 = 0 THEN ['ZZNOISE9']
                        ELSE []::VARCHAR[] END)) AS tok
          FROM clean)
        GROUP BY doc_id, tok) xc
      ON gc.doc_id = xc.doc_id AND gc.tok = xc.tok
      GROUP BY gc.doc_id) t ON s.doc_id = t.doc_id
    UNION ALL
    -- ROUGE-2 (part='rouge', round 5 tenth pass): clipped
    -- bigram-overlap P/R/F1 of the SAME degraded extraction vs gold
    -- (Lin ACL'04); bigram token = w_i || chr(1) || w_{i+1}, overlap
    -- restated via an independent bigram unnest + least() join
    SELECT 'rouge', s.doc_id,
           cast(coalesce(t.tp, 0) AS BIGINT),
           cast(len(s.gb) AS BIGINT),
           array_to_string(s.x, ' '),
           cast(len(s.xb) AS BIGINT),
           cast(CASE WHEN len(s.xb) > 0
                THEN (coalesce(t.tp, 0) * 1000000) // len(s.xb) ELSE 0 END AS BIGINT),
           cast(CASE WHEN len(s.gb) > 0
                THEN (coalesce(t.tp, 0) * 1000000) // len(s.gb) ELSE 0 END AS BIGINT),
           cast(CASE WHEN len(s.gb) + len(s.xb) > 0
                THEN (2 * coalesce(t.tp, 0) * 1000000) // (len(s.gb) + len(s.xb))
                ELSE 0 END AS BIGINT)
    FROM (
      SELECT doc_id, x,
             list_transform(range(1, len(g)), i -> g[i] || chr(1) || g[i+1]) AS gb,
             list_transform(range(1, len(x)), i -> x[i] || chr(1) || x[i+1]) AS xb
      FROM (
        SELECT doc_id, g,
               list_concat(list_filter(g, (tok, i) -> i % 5 != 0),
                           CASE WHEN doc_id % 9 = 0 THEN ['ZZNOISE9']
                                ELSE []::VARCHAR[] END) AS x
        FROM (SELECT doc_id, string_split(t, ' ') AS g FROM clean))) s
    LEFT JOIN (
      SELECT gc.doc_id, sum(least(gc.c, xc.c)) AS tp
      FROM (
        SELECT doc_id, bg, count(*) AS c
        FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(g)),
                        i -> g[i] || chr(1) || g[i+1])) AS bg
          FROM (SELECT doc_id, string_split(t, ' ') AS g FROM clean))
        GROUP BY doc_id, bg) gc
      JOIN (
        SELECT doc_id, bg, count(*) AS c
        FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(x)),
                        i -> x[i] || chr(1) || x[i+1])) AS bg
          FROM (
            SELECT doc_id,
                   list_concat(
                     list_filter(string_split(t, ' '), (tok, i) -> i % 5 != 0),
                     CASE WHEN doc_id % 9 = 0 THEN ['ZZNOISE9']
                          ELSE []::VARCHAR[] END) AS x
            FROM clean))
        GROUP BY doc_id, bg) xc
      ON gc.doc_id = xc.doc_id AND gc.bg = xc.bg
      GROUP BY gc.doc_id) t ON s.doc_id = t.doc_id
    UNION ALL
    -- CER/WER (part='cer', round 5 ninth pass): see the cerp/wer CTEs
    SELECT 'cer', c.doc_id,
           cast(levenshtein(c.g, c.x) AS BIGINT),
           cast(w.wdist AS BIGINT),
           c.x,
           cast(length(c.g) AS BIGINT),
           cast(CASE WHEN length(c.g) > 0
                THEN levenshtein(c.g, c.x) * 1000000 // length(c.g)
                ELSE 0 END AS BIGINT),
           cast(w.ngw AS BIGINT),
           cast(CASE WHEN w.ngw > 0 THEN w.wdist * 1000000 // w.ngw
                ELSE 0 END AS BIGINT)
    FROM cerp c JOIN wer w ON c.doc_id = w.doc_id
    UNION ALL
    -- XY-cut layout analysis (part='xy'): the Manhattan page is built
    -- from the rpad-52 text (title 12 chars; two 2x10-char columns),
    -- so the three reading-order blocks are pure substring arithmetic
    SELECT 'xy', doc_id, cast(b.i AS BIGINT), cast(3 AS BIGINT),
           CASE b.i
             WHEN 0 THEN substr(p, 1, 12)
             WHEN 1 THEN substr(p, 13, 10) || chr(10) || substr(p, 23, 10)
             ELSE substr(p, 33, 10) || chr(10) || substr(p, 43, 10)
           END,
           -1, -1, -1, -1
    FROM (SELECT doc_id, rpad(t, 52, '.') AS p FROM clean),
         unnest([0, 1, 2]) AS b(i)
    """,
)
def q27_media_roundtrip(spark, sf_dir):
    """The media-path family (schema-changing fold, round 5 sixth pass).

    part='text': the full vectorized media path, oracle-checked —
    encode each document's text into a synthetic TIFF blob (pandas
    UDF), then run the real OCR decode chain
    (rasterize->binarize->segment->recognize). decode(encode(x)) == x,
    so plain SQL can oracle the whole UDF path.

    part='word' (round 5): hOCR-style word GEOMETRY under the gate —
    the text wraps into 40-char lines, encodes as a multi-line page,
    and codecs.recognize_words reports every word's bbox with x taken
    from the image's decoded ink-column mask (not string arithmetic).
    The oracle restates the expected boxes independently by string
    arithmetic over the same wrap (word starts via split-part lengths,
    x0 = 1-based char position because glyph columns sit at
    1 + char_index past the anchor column; y from the 9-row band
    pitch), so a one-pixel segmentation shift hash-mismatches.
    tesseract's hOCR/TSV analog; the reference forwards engine layout
    output untouched (pmocr.sh:1923-1963).

    part='cell' (round 5, sixth pass): GEOMETRIC table reconstruction
    (codecs.detect_table) under the gate — each doc's cleaned text
    (spaces -> '_' so cells are space-free) fills a deterministic
    2-row x 3-column space-padded table, encodes as a page, and the
    full decode -> word boxes -> column detection (full-height x-gap
    channels >= 2px, the csv hack's 2-space rule made geometric) runs
    for real; the oracle restates the expected cells independently by
    the same occupied-union / separator-run / dense-column arithmetic
    over the row STRINGS. Short texts exercise vanishing cells,
    columns and rows — the oracle's run-length CTEs track all of it.

    part='deskew' (round 5, seventh pass): the scanned-rotated-page
    case pmOCR's ImageMagick `-deskew 40` preprocessor exists for
    (default.conf:97, README.md:115). Each doc's wrapped text encodes
    as a page SHEARED by a per-doc md5-derived drift (-4..4 px, always
    within the threshold), and the real estimate->unshear->decode
    chain (codecs.estimate_drift / unshear, run inside binarize_trim
    exactly like ImageMagick runs -deskew inside the preprocessor
    pass) must recover both the exact drift (line_no column — the
    oracle restates the md5 arithmetic) and the byte-identical text.

    part='eval' (round 5, eighth pass): extraction-quality evaluation
    (operators/extraction_eval.py) — token-level precision/recall/F1
    in integer micro-units of a deterministically-degraded extraction
    vs the gold text (the graded form of pmOCR's exact-fixture test
    strategy, run_tests.sh). Columns: line_no=tp, word_no=n_gold,
    text_out=extracted text, x0=n_ext, y0=prec, x1=rec, y1=f1.

    part='rouge' (round 5, tenth pass): ROUGE-2 (Lin, ACL'04) of the
    same degraded extraction vs gold — clipped bigram-overlap P/R/F1.
    ROUGE-N is token_eval over the n-gram alphabet, so the real
    operator runs unchanged on chr(1)-joined bigram tokens formed
    JVM-side. Columns: line_no=bigram tp, word_no=n_gold_bigrams,
    text_out=extracted text, x0=n_ext_bigrams, y0=prec, x1=rec (the
    ROUGE-2 headline), y1=f1.

    part='cer' (round 5, ninth pass): CER/WER OCR-accuracy metrics
    (ISRI OCR-evaluation methodology, Rice et al. UNLV-ISRI) of a
    character-degraded extraction vs gold. CER = built-in JVM
    levenshtein over the full text; WER = word-level edit-distance DP
    (extraction_eval.seq_edit_distance, Arrow-batched, doc-local) over
    the first-40-word prefix — bounded so the ORACLE can restate word
    distance through a single-byte-ASCII word recode under DuckDB's
    byte-based levenshtein(). Two INDEPENDENT edit-distance
    implementations check each other; nothing is restated. Columns:
    line_no=char dist, word_no=word dist, text_out=degraded text,
    x0=n_chars, y0=cer_micro, x1=n_words, y1=wer_micro."""
    import pandas as pd
    from pyspark.sql import types as T

    from . import codecs
    from .udfs import ocr_extract

    @F.pandas_udf(T.BinaryType())
    def encode_blob(text):
        return pd.Series(
            [codecs.encode_image(t, "tiff", salt="rt") for t in text], dtype=object
        )

    @F.pandas_udf(T.BinaryType())
    def encode_wrapped(text):
        return pd.Series(
            [
                codecs.encode_image(
                    "\n".join(t[i : i + 40] for i in range(0, len(t), 40)),
                    "tiff",
                    salt="wb",
                )
                for t in text
            ],
            dtype=object,
        )

    @F.pandas_udf(
        "array<struct<line_no:long,word_no:long,token:string,"
        "x0:long,y0:long,x1:long,y1:long>>"
    )
    def word_boxes(blobs):
        return pd.Series(
            [codecs.recognize_words(b) for b in blobs], dtype=object
        )

    d = _ts(spark, sf_dir, "documents", heavy=True)
    clean = F.trim(F.regexp_replace("text", "[^ -~]", ""))
    neg1 = F.lit(-1).cast("long")
    enc = d.select("doc_id", encode_blob(clean).alias("content"))
    text_arm = enc.select(
        F.lit("text").alias("part"),
        "doc_id",
        neg1.alias("line_no"),
        neg1.alias("word_no"),
        ocr_extract("content")["text"].alias("text_out"),
        neg1.alias("x0"),
        neg1.alias("y0"),
        neg1.alias("x1"),
        neg1.alias("y1"),
    )
    word_arm = (
        d.select("doc_id", encode_wrapped(clean).alias("content"))
        .select("doc_id", F.explode(word_boxes("content")).alias("w"))
        .select(
            F.lit("word").alias("part"),
            "doc_id",
            F.col("w.line_no").alias("line_no"),
            F.col("w.word_no").alias("word_no"),
            F.col("w.token").alias("text_out"),
            F.col("w.x0").alias("x0"),
            F.col("w.y0").alias("y0"),
            F.col("w.x1").alias("x1"),
            F.col("w.y1").alias("y1"),
        )
    )

    @F.pandas_udf(T.BinaryType())
    def encode_table(text):
        return pd.Series(
            [
                codecs.encode_image(
                    t[0:8].ljust(10) + t[8:14].ljust(8) + t[14:21]
                    + "\n"
                    + t[21:29].ljust(10) + t[29:35].ljust(8) + t[35:42],
                    "tif",
                    salt="cell",
                )
                for t in text
            ],
            dtype=object,
        )

    @F.pandas_udf(
        "array<struct<row_no:long,col_no:long,cell:string,"
        "x0:long,x1:long,y0:long,y1:long>>"
    )
    def table_cells(blobs):
        return pd.Series(
            [codecs.detect_table(codecs.recognize_words(b)) for b in blobs],
            dtype=object,
        )

    @F.pandas_udf(T.BinaryType())
    def encode_skewed(text, drift):
        return pd.Series(
            [
                codecs.encode_image_skewed(
                    "\n".join(t[i : i + 40] for i in range(0, len(t), 40)),
                    int(k),
                    "tiff",
                    salt="dsk",
                )
                for t, k in zip(text, drift)
            ],
            dtype=object,
        )

    @F.pandas_udf("struct<txt:string,est:long>")
    def decode_with_drift(blobs):
        rows = []
        for b in blobs:
            img = codecs.rasterize(bytes(b))[0]
            rows.append(
                {
                    "txt": codecs.decode_blob(bytes(b)),
                    "est": codecs.estimate_drift(img >= codecs.BINARIZE_THRESHOLD),
                }
            )
        return pd.DataFrame(rows)

    draw = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        % 9
        - 4
    )
    # single-line pages alias drift +-3 with +-1 (constant-offset shift
    # profiles on the 8 ink rows) — remap to the alias-free +-2 there,
    # mirrored in the oracle
    drift_col = F.when(
        (F.length(clean) <= 40) & (F.abs(draw) == 3),
        F.floor(draw / 3).cast("long") * 2,
    ).otherwise(draw)
    deskew_arm = (
        d.select("doc_id", encode_skewed(clean, drift_col).alias("content"))
        .select("doc_id", decode_with_drift("content").alias("r"))
        .select(
            F.lit("deskew").alias("part"),
            "doc_id",
            F.col("r.est").alias("line_no"),
            neg1.alias("word_no"),
            F.col("r.txt").alias("text_out"),
            neg1.alias("x0"),
            neg1.alias("y0"),
            neg1.alias("x1"),
            neg1.alias("y1"),
        )
    )

    cell_arm = (
        d.select(
            "doc_id", encode_table(F.translate(clean, " ", "_")).alias("content")
        )
        .select("doc_id", F.explode(table_cells("content")).alias("c"))
        .select(
            F.lit("cell").alias("part"),
            "doc_id",
            F.col("c.row_no").alias("line_no"),
            F.col("c.col_no").alias("word_no"),
            F.col("c.cell").alias("text_out"),
            F.col("c.x0").alias("x0"),
            F.col("c.y0").alias("y0"),
            F.col("c.x1").alias("x1"),
            F.col("c.y1").alias("y1"),
        )
    )
    # part='eval' (round 5, eighth pass): extraction-quality evaluation
    # (operators/extraction_eval.py) — token-level P/R/F1 of a
    # deterministically-degraded extraction against the gold text
    # (every 5th token dropped; every 9th doc gains a noise token), the
    # graded version of pmOCR's exact-fixture test strategy. One extra
    # Arrow stage (Counter intersection per row), still map-only; the
    # oracle restates tp via an independent unnest + least() join.
    from .operators.extraction_eval import micro_scores, token_eval

    ws_ev = F.split(clean, " ")
    ext_arr = F.filter(ws_ev, lambda t, i: i % 5 != 4)
    ext_arr = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(ext_arr, F.array(F.lit("ZZNOISE9"))),
    ).otherwise(ext_arr)
    ext_txt = F.array_join(ext_arr, " ")
    ev = d.select(
        "doc_id",
        ext_txt.alias("ext_t"),
        token_eval(clean, ext_txt).alias("s"),
    ).select("doc_id", "ext_t", "s.tp", "s.n_gold", "s.n_ext")
    prec, rec, f1 = micro_scores(F.col("tp"), F.col("n_gold"), F.col("n_ext"))
    eval_arm = ev.select(
        F.lit("eval").alias("part"),
        "doc_id",
        F.col("tp").alias("line_no"),
        F.col("n_gold").alias("word_no"),
        F.col("ext_t").alias("text_out"),
        F.col("n_ext").alias("x0"),
        prec.alias("y0"),
        rec.alias("x1"),
        f1.alias("y1"),
    )
    # part='rouge' (round 5, tenth pass): ROUGE-2 (Lin, ACL'04 "ROUGE:
    # a package for automatic evaluation of summaries") of the SAME
    # degraded extraction vs gold — clipped bigram-overlap P/R/F1.
    # ROUGE-N IS token_eval over the n-gram alphabet, so the REAL
    # operator runs unchanged: bigram tokens are formed JVM-side
    # (zip_with over two slices, chr(1) joiner — not Python-whitespace,
    # unsplittable by token_eval, and never inside a bigram since gold
    # text is printable ASCII) and flow through the same Counter
    # intersection + micro_scores. Map-only like eval; the oracle
    # restates the overlap via an independent bigram unnest + least()
    # join. Columns: line_no=bigram tp, word_no=n_gold_bigrams,
    # text_out=extracted text, x0=n_ext_bigrams, y0=prec, x1=rec
    # (the ROUGE-2 headline number), y1=f1.
    def _bg_arr(arr):
        n = F.size(arr)
        return F.when(
            n >= 2,
            F.zip_with(
                F.slice(arr, 1, n - 1),
                F.slice(arr, 2, n - 1),
                lambda a, b: F.concat(a, F.lit("\x01"), b),
            ),
        ).otherwise(F.array().cast("array<string>"))

    rg = d.select(
        "doc_id",
        ext_txt.alias("ext_t"),
        token_eval(
            F.array_join(_bg_arr(ws_ev), " "),
            F.array_join(_bg_arr(ext_arr), " "),
        ).alias("s"),
    ).select("doc_id", "ext_t", "s.tp", "s.n_gold", "s.n_ext")
    rprec, rrec, rf1 = micro_scores(F.col("tp"), F.col("n_gold"), F.col("n_ext"))
    rouge_arm = rg.select(
        F.lit("rouge").alias("part"),
        "doc_id",
        F.col("tp").alias("line_no"),
        F.col("n_gold").alias("word_no"),
        F.col("ext_t").alias("text_out"),
        F.col("n_ext").alias("x0"),
        rprec.alias("y0"),
        rrec.alias("x1"),
        rf1.alias("y1"),
    )
    # part='cer' (round 5, ninth pass): CER/WER OCR-accuracy metrics
    # (the ISRI methodology) — gold degrades CHARACTER-wise (0-based
    # position i: dropped when i%7==6, '#' when i%11==10), then
    # CER = F.levenshtein (JVM codegen, no UDF) over the full text and
    # WER = the word-level edit-distance DP (extraction_eval.edit_eval,
    # one Arrow stage) over the first-40-word prefix. The prefix bound
    # exists for the ORACLE: DuckDB's levenshtein is byte-based, so the
    # WER restatement recodes words to single-byte ASCII codes — union
    # vocab <= 80 (char edits never add spaces, so degraded word count
    # <= gold's 40) keeps every code one byte. CER needs no bound: the
    # cleaned text is printable ASCII, where bytes == codepoints.
    from .operators.extraction_eval import edit_eval, rate_micro

    @F.pandas_udf("struct<x:string,gp:string,xp:string>")
    def degrade_cer(text):
        def deg(t):
            return "".join(
                "#" if i % 11 == 10 else c
                for i, c in enumerate(t)
                if i % 7 != 6
            )

        rows = []
        for t in text:
            gp = " ".join((t.split(" ") if t else [])[:40])
            rows.append((deg(t), gp, deg(gp)))
        return pd.DataFrame(rows, columns=["x", "gp", "xp"])

    cer_src = d.select(
        "doc_id", clean.alias("g"), degrade_cer(clean).alias("r")
    ).select(
        "doc_id", "g", "r.x", edit_eval(F.col("r.gp"), F.col("r.xp")).alias("w")
    )
    cdist = F.levenshtein("g", "x")
    cer_arm = cer_src.select(
        F.lit("cer").alias("part"),
        "doc_id",
        cdist.cast("long").alias("line_no"),
        F.col("w.wdist").alias("word_no"),
        F.col("x").alias("text_out"),
        F.length("g").cast("long").alias("x0"),
        rate_micro(cdist, F.length("g")).alias("y0"),
        F.col("w.n_gold_w").alias("x1"),
        rate_micro(F.col("w.wdist"), F.col("w.n_gold_w")).alias("y1"),
    )
    # part='xy' (round 5, thirteenth pass): recursive XY-cut layout
    # analysis (codecs.xy_cut — Nagy/Seth's classic top-down page
    # segmentation, the general form of segment_columns). Each doc's
    # cleaned text is rpad-truncated to 52 chars (fixed geometry, the
    # cell-arm trick) and rendered as a MANHATTAN layout: a full-width
    # 12-char title band above a two-column pair of 2x10-char blocks
    # (codecs.render_regions). The real decode chain (rasterize ->
    # binarize_trim -> xy_cut -> per-leaf recognize) must recover the
    # THREE blocks in reading order byte-for-byte — Y-cut priority
    # included, since the inter-column gutter also spans the title
    # band's right padding and an X-first cut would split the title.
    # The oracle restates the three block texts by substring
    # arithmetic. line_no = block index, word_no = block count.
    @F.pandas_udf(T.BinaryType())
    def encode_regions(p):
        return pd.Series(
            [
                codecs.encode_image_regions(
                    [
                        [t[0:12]],
                        [t[12:22] + "\n" + t[22:32], t[32:42] + "\n" + t[42:52]],
                    ],
                    "tif",
                    salt="xy",
                )
                for t in p
            ],
            dtype=object,
        )

    @F.pandas_udf("array<string>")
    def region_texts(blobs):
        return pd.Series(
            [codecs.recognize_regions(b) for b in blobs], dtype=object
        )

    xy_arm = (
        d.select("doc_id", F.rpad(clean, 52, ".").alias("p"))
        .select("doc_id", encode_regions("p").alias("content"))
        .select("doc_id", F.posexplode(region_texts("content")).alias("bidx", "btxt"))
        .select(
            F.lit("xy").alias("part"),
            "doc_id",
            F.col("bidx").cast("long").alias("line_no"),
            F.lit(3).cast("long").alias("word_no"),
            F.col("btxt").alias("text_out"),
            neg1.alias("x0"),
            neg1.alias("y0"),
            neg1.alias("x1"),
            neg1.alias("y1"),
        )
    )
    return (
        text_arm.unionByName(word_arm)
        .unionByName(cell_arm)
        .unionByName(deskew_arm)
        .unionByName(eval_arm)
        .unionByName(rouge_arm)
        .unionByName(cer_arm)
        .unionByName(xy_arm)
    )


@query("q28_ocr_pipeline")  # no SQL oracle: full span pipeline (pytest-gated)
def q28_ocr_pipeline(spark, sf_dir):
    """The flagship engine end-to-end on a deterministic in-memory corpus
    (seed 42): explode -> route -> OCR UDF -> windowed reassembly ->
    txt/csv targets + status. Gated by exact span-sequence equality in
    tests/test_pipeline.py (the BASELINE invariant); the driver records
    a rows-only check here since spans aren't SQL-expressible over the
    flat documents view."""
    from . import corpus, pipeline

    docs_t, blobs_t = corpus.generate(n_docs=150, seed=42)
    docs = spark.createDataFrame(
        docs_t.to_pylist(),
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    blobs = spark.createDataFrame(
        blobs_t.to_pylist(), "media_ref string, kind string, content binary"
    )
    out = pipeline.run_batch(spark, docs, blobs)
    return out.select(
        "doc_id",
        "status",
        "span_count",
        "error_count",
        F.md5(F.col("txt").cast("binary")).alias("txt_md5"),
        F.md5(F.col("csv").cast("binary")).alias("csv_md5"),
    )


@query(
    "q29_hourly_rollup",
    """
    SELECT cast(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q29_hourly_rollup(spark, sf_dir):
    """Tumbling-window aggregation (batch twin of the streaming monitor's
    windowed counts, SURVEY §2.8)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).cast("long").alias("hour_epoch"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


#: k-anonymity threshold (q30 part='kanon'): minimum group size a
#: published quasi-identifier row may isolate
_KANON_K = 5


@query(
    "q30_distinct_sources",
    f"""
    SELECT 'pairs' AS part, source AS k1, lang AS k2, cast(1 AS BIGINT) AS n
    FROM (SELECT DISTINCT source, lang FROM documents)
    UNION ALL
    SELECT 'nusers', event_type, '', count(DISTINCT user_id)
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'hll', event_type, cast(b AS VARCHAR), cast(max(rank) AS BIGINT)
    FROM (
      SELECT event_type, h % 256 AS b,
             CASE WHEN h // 256 = 0 THEN 25
                  ELSE 25 - length(bin(h // 256)) END AS rank
      FROM (SELECT event_type,
                   ('0x' || substr(md5(cast(user_id AS varchar)), 1, 8))::BIGINT AS h
            FROM events))
    GROUP BY event_type, b
    UNION ALL
    -- eqdepth: 8-bucket equi-depth histogram of n_chars; bucket =
    -- ceil(rank*8/N) in pure integer arithmetic, boundary = bucket max
    SELECT 'eqdepth', cast(bucket AS VARCHAR), cast(max(n_chars) AS VARCHAR),
           count(*)
    FROM (
      SELECT n_chars, (rnk * 8 + nt - 1) // nt AS bucket
      FROM (SELECT n_chars,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
            FROM documents),
           (SELECT count(*) AS nt FROM documents))
    GROUP BY bucket
    UNION ALL
    -- kanon: k-anonymity release — quasi-identifier groups with
    -- count >= 5 are released, the rest suppressed into one tally row
    SELECT 'kanon', lang || '|' || source, cast(n_chars // 100 AS VARCHAR),
           count(*)
    FROM documents
    GROUP BY lang, source, n_chars // 100
    HAVING count(*) >= 5
    UNION ALL
    SELECT 'kanon', '__suppressed__', cast(count(*) AS VARCHAR),
           cast(coalesce(sum(c), 0) AS BIGINT)
    FROM (
      SELECT count(*) AS c
      FROM documents
      GROUP BY lang, source, n_chars // 100
      HAVING count(*) < 5)
    UNION ALL
    -- corr: Pearson r between doc length in chars and in tokens —
    -- integer least-squares sums, ONE fixed-order float expression
    SELECT 'corr', 'n_chars~n_tokens',
           cast(cast(round(1000000.0 * (cn * sxy - sx * sy)
                / (sqrt(cn * sxx - sx * sx) * sqrt(cn * syy - sy * sy)))
                AS BIGINT) AS VARCHAR),
           cn
    FROM (
      SELECT count(*) AS cn,
             cast(sum(x) AS BIGINT) AS sx, cast(sum(y) AS BIGINT) AS sy,
             cast(sum(x * y) AS BIGINT) AS sxy,
             cast(sum(x * x) AS BIGINT) AS sxx,
             cast(sum(y * y) AS BIGINT) AS syy
      FROM (SELECT n_chars AS x,
                   cast(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS y
            FROM documents))
    UNION ALL
    -- gini: concentration of the per-source doc distribution (0 =
    -- perfectly balanced corpus mix) — integer rank-weighted sums
    SELECT 'gini', 'source',
           cast(cast(round(1000000.0 * ((2.0 * s1) / (k * s)
                                        - (k + 1.0) / k)) AS BIGINT)
                AS VARCHAR),
           k
    FROM (
      SELECT cast(sum(rn * c) AS BIGINT) AS s1,
             cast(sum(c) AS BIGINT) AS s, count(*) AS k
      FROM (SELECT c, row_number() OVER (ORDER BY c, source) AS rn
            FROM (SELECT source, cast(count(*) AS BIGINT) AS c
                  FROM documents GROUP BY source)))
    UNION ALL
    -- heaps: vocabulary growth by corpus decile — new terms = terms
    -- whose FIRST occurrence (min doc_id) falls in the decile,
    -- cumulative = the Heaps-law V(n) curve
    SELECT 'heaps', cast(dc AS VARCHAR),
           cast(sum(nv) OVER (ORDER BY dc) AS VARCHAR), nv
    FROM (
      SELECT (fo * 10) // nd AS dc, count(*) AS nv
      FROM (SELECT term, min(doc_id) AS fo
            FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
            WHERE term <> '' GROUP BY term),
           (SELECT max(doc_id) + 1 AS nd FROM documents)
      GROUP BY dc)
    """,
)
def q30_distinct_sources(spark, sf_dir):
    """Distinct family in ONE gate slot: whole-row DISTINCT (dedup
    special case) plus exact per-group COUNT(DISTINCT) — the
    approx_count_distinct sketch is the 100 TB path; the exact op is the
    oracle-checked one. (Folded q30/q35 per the round-3 verdict.)

    part='hll' (round 5, fifth pass): the 100 TB path itself under the
    gate — deterministic HyperLogLog REGISTERS
    (operators/corpus_stats.hll_sketch, md5-routed, integer-only) for
    per-event-type distinct users; the oracle restates bucket/rank
    arithmetic verbatim, so the gate hash-verifies the distributed
    sketch state (k1 = event_type, k2 = bucket, n = max rank). The
    float estimator (hll_estimate, with linear-counting correction)
    stays out of the gate by design and is accuracy-pinned against the
    exact 'nusers' counts in tests/test_corpus_stats.

    part='eqdepth' (round 5): the 8-bucket EQUI-DEPTH histogram of
    document lengths — the datasheet/optimizer statistic whose naive
    form (global ORDER BY + ntile) is a single-partition sort. Here:
    the q37 two-pass rank (range partition -> local row_number ->
    broadcast offsets), bucket = ceil(rank·8/N) in PURE INTEGER
    arithmetic (`div`, so no float rounding can move a boundary row
    between engines; N rides as a broadcast 1-row frame), then ONE
    map-side-combinable agg for (upper boundary, count) per bucket.
    Exact at any corpus size with no global sort — counts differ by at
    most 1 across buckets by construction. k1 = bucket, k2 = upper
    boundary, n = bucket count."""
    from .operators.corpus_stats import hll_sketch

    d = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")
    nt = d.agg(F.count("*").alias("nt"))
    eqd = (
        _two_pass_rank(d.select("doc_id", "n_chars"), ["n_chars", "doc_id"],
                       "doc_id", extra_cols=["n_chars"])
        .join(F.broadcast(nt))
        .withColumn("bucket", F.expr("(rnk * 8 + nt - 1) div nt"))
        .groupBy("bucket")
        .agg(F.max("n_chars").alias("hi"), F.count("*").alias("n"))
        .select(
            F.lit("eqdepth").alias("part"),
            F.col("bucket").cast("string").alias("k1"),
            F.col("hi").cast("string").alias("k2"),
            F.col("n").cast("long").alias("n"),
        )
    )
    hll = hll_sketch(ev, F.col("user_id"), ["event_type"]).select(
        F.lit("hll").alias("part"),
        F.col("event_type").alias("k1"),
        F.col("bucket").cast("string").alias("k2"),
        F.col("rank").alias("n"),
    )
    pairs = (
        d.select("source", "lang")
        .distinct()
        .select(
            F.lit("pairs").alias("part"),
            F.col("source").alias("k1"),
            F.col("lang").alias("k2"),
            F.lit(1).cast("long").alias("n"),
        )
    )
    nusers = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).select(
        F.lit("nusers").alias("part"),
        F.col("event_type").alias("k1"),
        F.lit("").alias("k2"),
        F.col("n").cast("long").alias("n"),
    )
    # part='heaps' (round 5): vocabulary growth by corpus decile — the
    # Heaps-law V(n) curve (Heaps 1978), the datasheet statistic that
    # predicts index/vocab sizing at the next scale-up. A term's decile
    # = where its FIRST occurrence falls in doc order: one
    # vocabulary-keyed min agg (map-side combined) over the exploded
    # terms, decile in pure integer `div` arithmetic against a
    # broadcast 1-row max, one 10-row count agg, and the cumulative sum
    # is a window over those 10 rows (bounded by the decile count BY
    # CONSTRUCTION — never corpus-sized).
    terms30 = d.select(
        "doc_id", F.explode(_toks_col()).alias("term")
    ).filter(F.length("term") > 0)
    nd = d.agg((F.max("doc_id") + 1).alias("nd"))
    heaps = (
        terms30.groupBy("term")
        .agg(F.min("doc_id").alias("fo"))
        .crossJoin(F.broadcast(nd))
        .select(F.expr("(fo * 10) div nd").alias("dc"))
        .groupBy("dc")
        .agg(F.count("*").alias("nv"))
        .select(
            F.lit("heaps").alias("part"),
            F.col("dc").cast("string").alias("k1"),
            F.sum("nv").over(W.orderBy("dc")).cast("string").alias("k2"),
            F.col("nv").cast("long").alias("n"),
        )
    )
    # part='kanon' (round 5): k-anonymity release (Sweeney, IJUFKS
    # 2002 — the privacy gate a corpus datasheet publishes group
    # statistics through): quasi-identifier = (lang, source,
    # n_chars-century bucket); groups of >= _KANON_K records release
    # their exact counts, smaller groups collapse into ONE suppressed
    # tally (group + record counts), so no published row isolates
    # fewer than k individuals. One keyed agg (map-side combined) +
    # a filter and a 2-number agg over the suppressed remainder —
    # scan-bound at any corpus size.
    kg = d.groupBy(
        F.concat_ws("|", "lang", "source").alias("qi"),
        F.expr("n_chars div 100").alias("bkt"),
    ).agg(F.count("*").alias("c"))
    krel = kg.filter(F.col("c") >= _KANON_K).select(
        F.lit("kanon").alias("part"),
        F.col("qi").alias("k1"),
        F.col("bkt").cast("string").alias("k2"),
        F.col("c").cast("long").alias("n"),
    )
    ksup = (
        kg.filter(F.col("c") < _KANON_K)
        .agg(
            F.count("*").alias("g"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("s"),
        )
        .select(
            F.lit("kanon").alias("part"),
            F.lit("__suppressed__").alias("k1"),
            F.col("g").cast("string").alias("k2"),
            F.col("s").cast("long").alias("n"),
        )
    )
    # part='corr' / part='gini' (round 5): two one-row corpus-balance
    # datasheet statistics. Pearson r between char- and token-length
    # (the sanity probe that catches a broken tokenizer or binary
    # contamination at a glance): five EXACT integer sums from one
    # map-side-combined agg, then ONE fixed-order float expression —
    # the zipf discipline. Gini concentration of the per-source doc
    # distribution (0 = perfectly balanced mix — the signal per-domain
    # caps and temperature mixing exist to improve): rank-weighted
    # integer sums over the source-count table (window bounded by
    # SOURCE CARDINALITY, never corpus-sized).
    cfr = d.select(
        F.col("n_chars").alias("x"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("y"),
    ).agg(
        F.count("*").alias("cn"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    corr = cfr.select(
        F.lit("corr").alias("part"),
        F.lit("n_chars~n_tokens").alias("k1"),
        F.round(
            F.lit(1000000.0)
            * (F.col("cn") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("cn") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("cn") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            0,
        )
        .cast("long")
        .cast("string")
        .alias("k2"),
        F.col("cn").cast("long").alias("n"),
    )
    scounts = d.groupBy("source").agg(F.count("*").alias("c"))
    w_g = W.orderBy("c", "source")
    gini = (
        scounts.withColumn("rn", F.row_number().over(w_g))
        .agg(
            F.sum(F.col("rn") * F.col("c")).alias("s1"),
            F.sum("c").alias("s"),
            F.count("*").alias("k"),
        )
        .select(
            F.lit("gini").alias("part"),
            F.lit("source").alias("k1"),
            F.round(
                F.lit(1000000.0)
                * (
                    (F.lit(2.0) * F.col("s1")) / (F.col("k") * F.col("s"))
                    - (F.col("k") + F.lit(1.0)) / F.col("k")
                ),
                0,
            )
            .cast("long")
            .cast("string")
            .alias("k2"),
            F.col("k").cast("long").alias("n"),
        )
    )
    return (
        pairs.unionAll(nusers)
        .unionAll(hll)
        .unionAll(eqd)
        .unionAll(heaps)
        .unionAll(krel)
        .unionAll(ksup)
        .unionAll(corr)
        .unionAll(gini)
    )


# =====================================================================
# 6. Extended relational / function coverage (catalog round 2)
# =====================================================================


@query(
    "q31_json_extract",
    """
    SELECT event_id,
           cast(json_extract_string(props, '$.k') AS BIGINT)       AS k,
           coalesce(nullif(event_type, 'error'), 'ERR')            AS kind_or_err,
           CASE WHEN value > 100 THEN value ELSE NULL END          AS high_value,
           coalesce(CASE WHEN value > 100 THEN value END, 0.0)     AS high_or_zero
    FROM events WHERE props IS NOT NULL
    """,
)
def q31_json_extract(spark, sf_dir):
    """Semi-structured + NULL-handling scalar battery over events in ONE
    gate slot: JSON field extraction from a string column, plus
    nullif/coalesce/conditional-null expressions — all map-side, one
    codegen stage, zero shuffles. (Folded q31/q40 per the round-3
    verdict.)"""
    ev = _t(spark, sf_dir, "events")
    high = F.when(F.col("value") > 100, F.col("value"))
    return ev.filter(F.col("props").isNotNull()).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("ERR")).alias("kind_or_err"),
        high.alias("high_value"),
        F.coalesce(high, F.lit(0.0)).alias("high_or_zero"),
    )


@query(
    "q32_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(min(value), 4)                 AS vmin,
           round(max(value), 4)                 AS vmax
    FROM events GROUP BY event_type
    """,
)
def q32_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`; approx_percentile is the 100TB path but has
    no cross-engine oracle, so the exact op is the checked one)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


@query(
    "q36_asof_grouped_pandas",
    """
    SELECT event_id,
           last_value(CASE WHEN event_type = 'error' THEN cast(floor(epoch(ts)) AS BIGINT) END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_error_epoch
    FROM events
    """,
)
def q36_asof_grouped_pandas(spark, sf_dir):
    """The same as-of semantics as q15, implemented via applyInPandas
    (grouped-map pd.merge_asof — pyspark_guide 'As-of join' path (b)).

    Shows the custom-operator escape hatch: per-group pandas with a
    deterministic sort inside, oracle-checked against window SQL. At
    scale the groupBy co-partitions by user_id — one shuffle, and each
    group is a bounded pandas frame."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type",
        F.unix_timestamp("ts").cast("long").alias("epoch"),
    )

    def asof(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        err_epochs = pdf["epoch"].where(pdf["event_type"] == "error")
        pdf["asof_error_epoch"] = err_epochs.ffill()
        return pdf[["event_id", "asof_error_epoch"]]

    return ev.groupBy("user_id").applyInPandas(
        asof, "event_id long, asof_error_epoch long"
    )


@query(
    "q38_string_funcs",
    """
    SELECT c_custkey,
           upper(c_name)                                    AS uname,
           lpad(cast(c_custkey AS varchar), 8, '0')         AS padded,
           translate(c_mktsegment, 'AEIOU', 'aeiou')        AS translated,
           substr(c_name, 1, 8)                             AS prefix,
           length(c_name)                                   AS name_len,
           regexp_extract(c_name, '([A-Za-z]+)#([0-9]+)', 1) AS name_word,
           cast(regexp_extract(c_name, '([A-Za-z]+)#([0-9]+)', 2) AS BIGINT)
                                                            AS name_num
    FROM customer
    """,
)
def q38_string_funcs(spark, sf_dir):
    """String function battery (X2/X4 analogs) + regexp group extraction
    (X-ops family) in ONE gate slot — all map-side codegen expressions.
    (Folded q38/q45 per the round-3 verdict.)"""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("translated"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.regexp_extract("c_name", "([A-Za-z]+)#([0-9]+)", 1).alias("name_word"),
        F.regexp_extract("c_name", "([A-Za-z]+)#([0-9]+)", 2).cast("long").alias("name_num"),
    )


@query(
    "q42_range_join",
    """
    SELECT o.o_orderkey, count(*) AS n_events
    FROM orders o JOIN events e
      ON e.user_id = o.o_custkey % 150
     AND e.ts >= TIMESTAMP '2024-01-01' + INTERVAL 1 DAY * (o.o_orderkey % 24)
     AND e.ts <  TIMESTAMP '2024-01-01' + INTERVAL 1 DAY * (o.o_orderkey % 24)
                 + INTERVAL 7 DAY
    GROUP BY o.o_orderkey
    """,
)
def q42_range_join(spark, sf_dir):
    """Range join (pyspark_guide 'As-of / range join'): equi-key on the
    derived user bucket carries the join; the time-range predicate is a
    residual filter — never a cartesian. At scale: bucketize the range
    key further if the equi-key is low-cardinality.

    The per-order 7-day window is anchored inside the events table's
    actual time range (2024-01, staggered by o_orderkey % 24 days) — the
    earlier o_orderdate anchor (1995-2001) could never overlap any event,
    so the join passed vacuously on 0 rows at every SF."""
    o = _t(spark, sf_dir, "orders")
    e = _t(spark, sf_dir, "events")
    anchor = F.to_timestamp(F.lit("2024-01-01")) + F.make_dt_interval(
        days=o.o_orderkey % 24
    )
    joined = o.join(
        e,
        (e.user_id == o.o_custkey % 150)
        & (e.ts >= anchor)
        & (e.ts < anchor + F.make_dt_interval(days=F.lit(7))),
    )
    return joined.groupBy("o_orderkey").agg(F.count("*").alias("n_events"))


@query(
    "q43_min_max_by",
    """
    SELECT user_id,
           max_by(event_id, ts || '|' || cast(event_id AS varchar)) AS last_event_id,
           min_by(event_id, ts || '|' || cast(event_id AS varchar)) AS first_event_id,
           count(*) AS n,
           array_to_string(list(event_type ORDER BY ts, event_id), ',') AS journey
    FROM events GROUP BY user_id
    """,
)
def q43_min_max_by(spark, sf_dir):
    """Ordered-aggregate family in ONE gate slot: min_by/max_by with a
    deterministic composite ordering key (ts alone can tie; the event_id
    suffix breaks ties identically on both engines), plus the
    deterministically ordered array agg — the reassembly primitive
    (§7.4.1): sort_array(collect_list(struct)) -> projected -> joined.
    All four aggregates share ONE groupBy shuffle. (Folded q43/q44 per
    the round-3 verdict; the journey string is bounded by per-group
    cardinality, the same bound the span-reassembly op carries.)"""
    ev = _t(spark, sf_dir, "events")
    key = F.concat(F.col("ts").cast("string"), F.lit("|"), F.col("event_id").cast("string"))
    packed = F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("last_event_id"),
        F.min_by("event_id", key).alias("first_event_id"),
        F.count("*").alias("n"),
        F.array_join(
            F.transform(F.sort_array(F.collect_list(packed)), lambda x: x["event_type"]),
            ",",
        ).alias("journey"),
    )


@query(
    "q48_correlated_subquery",
    """
    SELECT c_custkey,
           (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT round(coalesce(max(o_totalprice), 0.0), 2) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS max_price
    FROM customer c
    """,
)
def q48_correlated_subquery(spark, sf_dir):
    """Correlated scalar subqueries (Catalyst decorrelates to joins)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("q48_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q48_orders")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT count(*) FROM q48_orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
               (SELECT round(coalesce(max(o_totalprice), 0.0), 2) FROM q48_orders o
                 WHERE o.o_custkey = c.c_custkey) AS max_price
        FROM q48_customer c
        """
    )


@query(
    "q49_rank_family",
    """
    SELECT o_orderkey,
           cast(rank() OVER w AS BIGINT)         AS rnk,
           cast(dense_rank() OVER w AS BIGINT)   AS drnk,
           cast(ntile(4) OVER w AS BIGINT)       AS quartile,
           round(percent_rank() OVER w, 6)       AS prank,
           cast(extract(year FROM o_orderdate) AS INT)     AS yr,
           cast(extract(month FROM o_orderdate) AS INT)    AS mo,
           cast(extract(day FROM o_orderdate) AS INT)      AS dy,
           cast(extract(quarter FROM o_orderdate) AS INT)  AS qtr,
           cast(dayofweek(o_orderdate) AS INT)             AS dow
    FROM orders
    WHERE o_orderkey < 500
    WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q49_rank_family(spark, sf_dir):
    """Ranking window family (rank / dense_rank / ntile / percent_rank)
    plus the date-part extraction battery (X10 timestamp family) over
    the same filtered orders — the date parts are map-side expressions
    riding the window stage for free. NB Spark dayofweek is 1=Sunday,
    DuckDB 0=Sunday — normalized to DuckDB's convention. (Folded
    q49/q39 per the round-3 verdict.)

    The window is deliberately UNPARTITIONED (global ranking is the
    semantic) — safe ONLY because the pushed o_orderkey < 500 filter
    bounds the single-partition sort to <500 rows; q37 implements the
    two-pass range-partitioned rank that survives an unbounded table."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    w = W.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dy"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
    )


_Q50_ORACLE = """
WITH RECURSIVE edges AS (
  {q18}
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION SELECT doc_b, doc_a FROM edges
  UNION SELECT doc_a, doc_a FROM edges
  UNION SELECT doc_b, doc_b FROM edges
),
r(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
),
-- integer-micro PageRank over the deterministic host scaffold
-- (operators/linkgraph.py arithmetic, 2 chained iterations — the q33
-- Lloyd/q44 merge CTE pattern for iterative algorithms)
pge AS (SELECT DISTINCT doc_id % 64 AS s, (doc_id * 31 + 7) % 64 AS d FROM documents),
-- explicit DISTINCT subquery, not a bare UNION: inside this WITH
-- RECURSIVE clause DuckDB evaluated `x UNION y` without cross-branch
-- dedup (128 rows from two 64-row permutation branches), silently
-- doubling n and every in-degree
pgn AS (SELECT DISTINCT node FROM
        (SELECT s AS node FROM pge UNION ALL SELECT d FROM pge)),
pgod AS (SELECT s, cast(count(*) AS BIGINT) AS od FROM pge GROUP BY s),
pgt AS (SELECT cast(count(*) AS BIGINT) AS n FROM pgn),
pgr0 AS (SELECT node, cast(floor(1000000.0 / n) AS BIGINT) AS r FROM pgn, pgt),
pgr1 AS (
  SELECT v.node,
         cast(floor(150000.0 / t.n)
              + coalesce(sum(cast(floor((850 * r.r) / (1000.0 * o.od)) AS BIGINT)), 0)
              AS BIGINT) AS r
  FROM pgn v CROSS JOIN pgt t
  LEFT JOIN pge e ON e.d = v.node
  LEFT JOIN pgr0 r ON r.node = e.s
  LEFT JOIN pgod o ON o.s = e.s
  GROUP BY v.node, t.n),
pgr2 AS (
  SELECT v.node,
         cast(floor(150000.0 / t.n)
              + coalesce(sum(cast(floor((850 * r.r) / (1000.0 * o.od)) AS BIGINT)), 0)
              AS BIGINT) AS r
  FROM pgn v CROSS JOIN pgt t
  LEFT JOIN pge e ON e.d = v.node
  LEFT JOIN pgr1 r ON r.node = e.s
  LEFT JOIN pgod o ON o.s = e.s
  GROUP BY v.node, t.n)
SELECT 'component' AS part, a AS node, min(b) AS value_a,
       cast(CASE WHEN a = min(b) THEN 1 ELSE 0 END AS BIGINT) AS value_b
FROM r GROUP BY a
UNION ALL
SELECT 'pagerank', v.node, v.r, coalesce(o.od, 0)
FROM pgr2 v LEFT JOIN pgod o ON o.s = v.node
UNION ALL
-- split: leakage-free train/val/test assignment — the bucket hangs
-- off the duplicate-cluster ROOT (doc_id itself for singletons), so
-- near-dup copies can never straddle a split boundary
SELECT 'split', d.doc_id,
       coalesce(c.root, d.doc_id),
       ('0x' || substr(md5(cast(coalesce(c.root, d.doc_id) AS VARCHAR)),
                       1, 8))::BIGINT % 10
FROM documents d
LEFT JOIN (SELECT a AS doc_id, min(b) AS root FROM r GROUP BY a) c
  ON c.doc_id = d.doc_id
"""


@query("q50_dup_components")  # oracle registered below (composes q18's SQL)
def q50_dup_components(spark, sf_dir):
    """GRAPH-algorithm family in ONE gate slot, `part`-discriminated
    (round-5 fourth pass: columns generalized doc_id/component_id/
    is_keeper -> node/value_a/value_b so both algorithms share the row
    shape — see COVERAGE.md ledger):
      * part='component': connected components over near-dup candidate
        pairs (q18 MinHash edges) -> canonical keeper per duplicate
        cluster. Near-dup edges are not transitive, so real dedup
        pipelines need CC to pick ONE keeper per cluster; Spark has no
        built-in CC, so this delegates to
        operators.graph.connected_components — alternating large-star /
        small-star (Kiveris et al., SoCC'14), O(log^2 n) rounds for ANY
        graph shape including the adversarial boilerplate chains that
        defeat plain min-label propagation (the round-2 verdict's q50
        fix). Each round is two groupBy+join pairs keyed on the node
        id; the driver reads only a 2-scalar convergence checksum per
        round. value_a=component_id, value_b=is_keeper.
      * part='pagerank' (round 5, fourth pass): integer micro-unit
        PageRank (operators/linkgraph.py — the host-level quality prior
        CommonCrawl publishes per crawl) over a deterministic host
        scaffold (host = doc_id % 64, one outlink per doc to
        (doc_id*31+7) % 64 — coprime multiplier, no self-loops, every
        host sources edges). Two iterations under the gate, each ONE
        rank-onto-edges equi-join + ONE map-side-combined agg; the
        oracle chains both as CTEs (the q33 Lloyd / q44 merge pattern
        for iterative algorithms). value_a=rank_u, value_b=out_degree.
    Set PMOCR_RELIABLE_CHECKPOINT=1 (plus sparkContext.setCheckpointDir)
    on a real cluster for executor-loss-safe iteration checkpoints."""
    from .operators.graph import connected_components
    from .operators.linkgraph import pagerank

    edges = q18_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(edges, src="doc_a", dst="doc_b")
    comp = labels.select(
        F.lit("component").alias("part"),
        F.col("node"),
        F.col("label").alias("value_a"),
        (F.col("node") == F.col("label")).cast("long").alias("value_b"),
    )
    d = _t(spark, sf_dir, "documents")
    scaffold = d.select(
        (F.col("doc_id") % 64).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 64).alias("dst"),
    ).distinct()
    pr = pagerank(scaffold, iters=2).select(
        F.lit("pagerank").alias("part"),
        "node",
        F.col("rank_u").alias("value_a"),
        F.col("out_degree").alias("value_b"),
    )
    # part='split' (round 5, fourteenth pass): LEAKAGE-FREE
    # train/val/test assignment — the operation every eval-honest
    # pipeline needs and naive hash-splits get wrong: a near-dup pair
    # straddling train/test leaks the test set into training. The
    # split bucket hangs off the duplicate-cluster ROOT (the CC label;
    # doc_id itself for singletons), so every member of a cluster
    # lands in the same split BY CONSTRUCTION. Buckets via the
    # established md5-prefix integer lift, % 10 (8/1/1 convention:
    # <8 train, 8 val, 9 test — policy, stated here, not enforced).
    # Scale: CC is bounded by candidate pairs; the root attach is one
    # equi-join; the bucket a pure map.
    roots = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("root"))
    split = (
        d.select("doc_id")
        .join(roots, "doc_id", "left")
        .select(
            F.lit("split").alias("part"),
            F.col("doc_id").alias("node"),
            F.coalesce("root", F.col("doc_id")).alias("value_a"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.coalesce("root", F.col("doc_id")).cast("string")
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 10
            ).alias("value_b"),
        )
    )
    return comp.unionAll(pr).unionAll(split)


#: q33 kmeans-IVF parameters: embeddings are 64-d at every SF; centroids
#: are rounded to 6 decimals after each Lloyd mean so the Spark and
#: DuckDB float summation orders cannot flip an argmax assignment.
_EMB_DIM = 64
_KMEANS_ITERS = 2


def _q33_oracle() -> str:
    dot = "list_sum(list_transform(range(1, {d}+1), i -> n.e[i] * c.ce[i]))".format(d=_EMB_DIM)
    cnrm = "sqrt(list_sum(list_transform(c.ce, x -> x*x)))"
    mean_list = ", ".join(f"round(avg(n.e[{i}]), 6)" for i in range(1, _EMB_DIM + 1))
    sql = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
    cent0 AS (SELECT vec_id AS cid, e AS ce FROM n WHERE vec_id < 8)
    """
    prev = "cent0"
    for it in range(1, _KMEANS_ITERS + 1):
        sql += f"""
    , assign{it} AS (
      SELECT n.vec_id, arg_max(c.cid, {dot} / (n.nrm * {cnrm})) AS cluster_id
      FROM n, {prev} c GROUP BY n.vec_id
    ),
    cent{it} AS (
      SELECT a.cluster_id AS cid, [{mean_list}] AS ce
      FROM assign{it} a JOIN n ON n.vec_id = a.vec_id GROUP BY a.cluster_id
    )
        """
        prev = f"cent{it}"
    sql += f"""
    , assign AS (
      SELECT n.vec_id, arg_max(c.cid, {dot} / (n.nrm * {cnrm})) AS cluster_id
      FROM n, {prev} c GROUP BY n.vec_id
    ),
    q AS (SELECT n.*, a.cluster_id FROM n JOIN assign a USING (vec_id) WHERE vec_id < 10),
    cand AS (SELECT n.*, a.cluster_id FROM n JOIN assign a USING (vec_id) WHERE vec_id >= 10),
    sims AS (
      SELECT q.vec_id AS query_id, cand.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, {_EMB_DIM}+1), i -> q.e[i] * cand.e[i]))
               / (q.nrm * cand.nrm) AS sim
      FROM q JOIN cand ON q.cluster_id = cand.cluster_id
    )
    SELECT query_id, neighbor_id, rk, round(sim, 4) AS cos_sim FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM sims) t WHERE rk <= 5
    """
    return sql


@query("q33_ann_ivf_kmeans")  # oracle registered below (SQL built by helper)
def q33_ann_ivf_kmeans(spark, sf_dir):
    """IVF-ANN with LEARNED centroids: deterministic Lloyd k-means
    (init = first 8 vectors, exactly _KMEANS_ITERS iterations, no RNG)
    instead of q22's fixed centroids. Each iteration is a broadcast-
    centroid assignment (map-side, like q22) plus one groupBy(cluster)
    computing the per-dimension mean as 64 agg columns — one shuffle of
    64 doubles per vector, no explode. Centroids round to 6 decimals so
    float summation order can't flip an assignment (oracle parity).
    Search is then q22's co-partitioned in-cluster top-k.

    Iteration checkpoints go through operators.graph.iter_checkpoint:
    executor-local by default, fault-tolerant DataFrame.checkpoint()
    under PMOCR_RELIABLE_CHECKPOINT=1 (cluster-safe; see iter_checkpoint
    docstring for the executor-loss semantics)."""
    from .operators.graph import iter_checkpoint

    v = _norm_embeddings(spark, sf_dir)

    def assign_to(cent):
        # map-side argmax assignment (_argmax_assign): each Lloyd pass
        # is now shuffle-free — the old crossJoin+Window shape paid an
        # 8x row blowup plus one Window(vec_id) exchange PER ITERATION
        cnrm = F.expr(
            "sqrt(aggregate(transform(ce, x -> x * x), 0D, (acc, x) -> acc + x))"
        )
        return _argmax_assign(
            v,
            cent.select(F.col("cid").alias("cent_id"), "ce", cnrm.alias("cn")),
        )

    # one F.expr parse for the 64 per-dimension means (the F.array of 64
    # Column objects cost ~400 py4j round trips per Lloyd iteration)
    _mean_arr = F.expr(
        "array(" + ", ".join(f"round(avg(e[{i}]), 6)" for i in range(_EMB_DIM)) + ")"
    )
    cent = v.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    for _ in range(_KMEANS_ITERS):
        assign = assign_to(cent)
        cent = (
            v.join(assign, "vec_id")
            .groupBy(F.col("cluster_id").alias("cid"))
            .agg(_mean_arr.alias("ce"))
            # truncate the iterative lineage: without this, every later
            # reference to cent re-runs ALL prior assignment rounds
            # (measured ~1.7x the query time); the frame is n_cent rows
            .transform(iter_checkpoint)
        )
    # materialize the FINAL assignment once: the query and candidate
    # branches below both consume it, and without this each branch
    # re-runs the full crossJoin+window assignment pass (3 passes total
    # for 2 Lloyd iters — the round-2 verdict's q51(now q33) perf item). The
    # frame is (vec_id, cluster_id) — tiny relative to the embeddings.
    assign = iter_checkpoint(assign_to(cent))
    va = v.join(assign, "vec_id")
    q = va.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn"),
        "cluster_id",
    )
    c = va.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce2"), F.col("nrm").alias("cn2"),
        "cluster_id",
    )
    dot = F.expr("aggregate(zip_with(qe, ce2, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    sims = c.join(F.broadcast(q), "cluster_id").select(
        "query_id", "neighbor_id", (dot / (F.col("qn") * F.col("cn2"))).alias("sim")
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        sims.select("query_id", "neighbor_id", F.row_number().over(w).cast("long").alias("rk"), "sim")
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "rk", F.round("sim", 4).alias("cos_sim"))
    )



@query(
    "q34_training_corpus",
    """
    WITH keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    f AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+'))            AS n_tokens,
             len(regexp_extract_all(text, '[.,;:!?]'))              AS n_punct,
             cast(floor((length(lower(text)) - length(replace(lower(text), ' the ', '')))
                  / 5) AS BIGINT)                                   AS n_stop,
             n_chars
      FROM documents
    ),
    tt AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w FROM documents),
    gg AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) ng
      FROM tt),
    bb AS (SELECT DISTINCT ng FROM gg WHERE doc_id % 97 = 0),
    contam AS (SELECT DISTINCT doc_id FROM gg JOIN bb USING (ng))
    SELECT f.doc_id, f.lang,
           cast(f.n_tokens AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-(0.002 * n_chars + 2.0 * (n_stop * 1.0 / n_tokens)
                 - 1.5 * (n_punct * 1.0 / n_tokens) - 0.5))), 4) AS quality
    FROM f JOIN keep USING (doc_id)
    LEFT JOIN contam USING (doc_id)
    WHERE contam.doc_id IS NULL
      AND 1.0 / (1.0 + exp(-(0.002 * n_chars + 2.0 * (n_stop * 1.0 / n_tokens)
          - 1.5 * (n_punct * 1.0 / n_tokens) - 0.5))) >= 0.5
      AND n_tokens >= 5
    """,
)
def q34_training_corpus(spark, sf_dir):
    """Composed training-data corpus filter — the shape a real pretraining
    pipeline materializes: exact-dedup keepers (q16) JOIN quality score
    (q24 logistic) with a quality floor and a minimum length, MINUS the
    benchmark-contaminated docs (round-5 third pass — the 4th standard
    filter, GPT-3 §C decontamination practice: q45's shared-4-gram
    detection composed as an ANTI-join; benchmark docs drop themselves,
    which is correct — you never train on the eval set). The dedup
    groupBy and quality projection remain single-shuffle/map-side; the
    contamination side broadcasts the fixed-size benchmark gram set and
    reduces to a distinct doc_id list before the anti-join."""
    d = _t(spark, sf_dir, "documents")
    keep = d.groupBy(F.md5(F.col("text").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    lt = F.lower(F.col("text"))
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    n_punct = F.size(F.regexp_extract_all("text", F.lit("[.,;:!?]"), 0))
    n_stop = F.floor(
        (F.length(lt) - F.length(F.replace(lt, F.lit(" the ")))) / 5
    ).cast("long")
    f = d.select("doc_id", "lang", "n_chars",
                 n_tokens.alias("n_tokens"), n_punct.alias("n_punct"), n_stop.alias("n_stop"))
    quality = 1.0 / (
        1.0 + F.exp(
            -(0.002 * F.col("n_chars") + 2.0 * (F.col("n_stop") / F.col("n_tokens"))
              - 1.5 * (F.col("n_punct") / F.col("n_tokens")) - 0.5)
        )
    )
    grams34 = _ngram_rows(d, 4, "ng").distinct()
    bench34 = grams34.filter(F.col("doc_id") % 97 == 0).select("ng").distinct()
    contaminated = (
        grams34.join(F.broadcast(bench34), "ng").select("doc_id").distinct()
    )
    return (
        f.join(keep, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .filter((quality >= 0.5) & (F.col("n_tokens") >= 5))
        .select("doc_id", "lang", "n_tokens", F.round(quality, 4).alias("quality"))
    )


#: q35 sampling rate, percent — deterministic md5-bucket membership, the
#: standard reproducible-sample trick (no RNG, stable under reshuffles)
_SAMPLE_PCT = 20


#: q35 DSIR hashed-feature space: words hash into this many buckets.
#: A constant-size model (B log-ratio weights), so broadcasting it is
#: scale-independent — unlike data-sized broadcasts, which we avoid.
_DSIR_BUCKETS = 64
#: q35 DSIR target distribution: documents with this lang define
#: p_target; the full corpus defines p_raw.
_DSIR_TARGET_LANG = "en"
#: q35 part='domain_cap': keep at most this many docs per source
#: (RefinedWeb/Dolma-style per-domain cap), ranked n_chars desc.
_DOMAIN_CAP_K = 10
#: salt fan-out for the bounded top-K first phase: a hot domain's rows
#: split across this many reducers before any per-source ranking.
_DOMAIN_CAP_SALTS = 16
#: q35 part='weighted': sample size for the A-ES weighted draw.
_WEIGHTED_K = 50


@query(
    "q35_stratified_sample",
    f"""
    WITH b AS (
      SELECT lang, source,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
      FROM documents
    ),
    wds AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(wd), 1, 8))::BIGINT % {_DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS wd
            FROM documents)
    ),
    db AS (SELECT doc_id, lang, bucket, count(*) AS cnt
           FROM wds GROUP BY doc_id, lang, bucket),
    base AS (SELECT unnest(range(0, {_DSIR_BUCKETS})) AS bucket),
    tc AS (SELECT bucket, count(*) AS ct FROM wds
           WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bucket),
    rc AS (SELECT bucket, count(*) AS cr FROM wds GROUP BY bucket),
    tt AS (SELECT count(*) AS n FROM wds WHERE lang = '{_DSIR_TARGET_LANG}'),
    rt AS (SELECT count(*) AS n FROM wds),
    wt AS (
      SELECT b.bucket,
             round(ln((coalesce(tc.ct, 0) + 1.0) / (tt.n + {_DSIR_BUCKETS}))
                 - ln((coalesce(rc.cr, 0) + 1.0) / (rt.n + {_DSIR_BUCKETS})), 6) AS lr
      FROM base b LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tt, rt
    ),
    sc AS (
      SELECT d.doc_id, d.lang, cast(sum(d.cnt) AS BIGINT) AS n_words,
             cast(round(sum(d.cnt * w.lr) * 1000000, 0) AS BIGINT) AS score_u
      FROM db d JOIN wt w USING (bucket) GROUP BY d.doc_id, d.lang
    )
    SELECT 'stratum' AS part, lang AS k1, source AS k2,
           cast(count(*) AS BIGINT) AS n1,
           cast(sum(CASE WHEN bucket < {_SAMPLE_PCT} THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           cast(NULL AS BIGINT) AS score_u
    FROM b GROUP BY lang, source
    UNION ALL
    SELECT 'dsir', lang, doc_id::VARCHAR, n_words,
           cast(CASE WHEN score_u > 0 THEN 1 ELSE 0 END AS BIGINT), score_u
    FROM sc
    UNION ALL
    SELECT 'domain_cap', source, doc_id::VARCHAR,
           cast(rk AS BIGINT), cast(src_total AS BIGINT), cast(n_chars AS BIGINT)
    FROM (SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rk,
                 count(*) OVER (PARTITION BY source) AS src_total
          FROM documents)
    WHERE rk <= {_DOMAIN_CAP_K}
    UNION ALL
    -- temperature-sampled source mixing: p(s) ∝ n_s^0.5, deterministic
    -- integer-weight form, first take_s docs per domain by md5(doc_id)
    SELECT 'mix', dom, doc_id::VARCHAR,
           cast(rk AS BIGINT), take_s, cast(n_s AS BIGINT)
    FROM (
      SELECT doc_id, dom,
             row_number() OVER (PARTITION BY dom
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      FROM (SELECT doc_id,
                   'd' || cast(cast(floor(sqrt(cast(doc_id % 64 AS DOUBLE))) AS INT)
                               AS VARCHAR) AS dom
            FROM documents)) r
    JOIN (
      SELECT dom, n_s,
             least(n_s, cast(floor(tb * w / tw) AS BIGINT)) AS take_s
      FROM (
        SELECT dom, n_s, cast(floor(sqrt(cast(n_s AS DOUBLE)) * 1000) AS BIGINT) AS w
        FROM (SELECT 'd' || cast(cast(floor(sqrt(cast(doc_id % 64 AS DOUBLE))) AS INT)
                                 AS VARCHAR) AS dom, count(*) AS n_s
              FROM documents GROUP BY 1)),
      (SELECT sum(cast(floor(sqrt(cast(n_s AS DOUBLE)) * 1000) AS BIGINT)) AS tw,
              cast(floor(sum(n_s) / 4) AS BIGINT) AS tb
       FROM (SELECT count(*) AS n_s FROM documents
             GROUP BY 'd' || cast(cast(floor(sqrt(cast(doc_id % 64 AS DOUBLE))) AS INT)
                                  AS VARCHAR)))) t
    USING (dom)
    WHERE rk <= take_s
    UNION ALL
    -- A-ES weighted sampling w/o replacement: top-K by ln(u)/w in
    -- integer nano-units (rounded BEFORE ranking), u from md5(doc_id),
    -- w = n_chars
    SELECT 'weighted', 'n_chars', doc_id::VARCHAR,
           cast(rnk AS BIGINT), cast(n_chars AS BIGINT), key_u
    FROM (
      SELECT doc_id, n_chars, key_u,
             row_number() OVER (ORDER BY key_u DESC, doc_id) AS rnk
      FROM (
        SELECT doc_id, n_chars,
               cast(round(1000000000.0
                    * (ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                          / 4294967296.0) / n_chars), 0) AS BIGINT) AS key_u
        FROM documents WHERE n_chars > 0))
    WHERE rnk <= {_WEIGHTED_K}
    """,
)
def q35_stratified_sample(spark, sf_dir):
    """Sampling family in ONE gate slot, `part`-discriminated:
      * part='stratum': deterministic stratified sampling — membership =
        md5(doc_id) bucket < rate, reproducible on any engine and
        partition-layout-independent (Bernoulli sample() would not be
        cross-engine stable); per-(lang, source) totals vs sampled.
      * part='dsir': importance weighting for data selection (Xie et al.
        NeurIPS'23 DSIR, the hashed-n-gram variant at unigram order):
        each word hashes into one of B=64 buckets; the target corpus
        (lang='en') and the raw corpus each induce a Laplace-smoothed
        bucket distribution; a document's score is
        sum_b n_b(doc) * [ln p_target(b) - ln p_raw(b)], the
        log importance weight ln(p_t/p_r) of its hashed-feature vector.
        n2=1 marks docs more target-like than raw (score > 0) — the
        deterministic stand-in for sampling proportional to weight.
      * part='domain_cap': RefinedWeb/Dolma-style per-domain cap — keep
        at most K=10 docs per source, ranked (n_chars desc, doc_id).
        Web domains are the canonical skew key, so the top-K runs as a
        salted TWO-PHASE bounded selection: phase 1 ranks within
        (source, salt) — no reducer sees more than a 1/S shard of a hot
        domain — and phase 2 ranks the <= S*K survivors; each shard's
        global-top-K members are in its local top-K, so only-kept-rows
        output is salt-invariant and equals the oracle's direct window.
      * part='mix' (round 5): temperature-sampled source mixing (Lample
        & Conneau XLM'19 §3.1): p(domain) ∝ n^α at α=0.5 in a
        deterministic integer-weight form — w=floor(sqrt(n)*1000),
        budget T=total/4, take=min(n, floor(T*w/ΣW)), kept docs = the
        domain's first take by md5(doc_id). take grows with the corpus
        (unlike domain_cap's constant K), so selection uses ONE
        corpus-wide two-pass rank on (dom, md5) + broadcast per-domain
        offsets — never a per-domain rank window; the weight/take
        table is #domains-sized and broadcast.
      * part='weighted' (round 5, fourth pass): exact weighted sampling
        without replacement (Efraimidis & Spirakis IPL'06 A-ES) — the
        top-K docs by ln(u)/w with w = n_chars and u a fixed md5
        uniform; keys in integer nano-units so ranking is float-free.
    Scale shape: the model is B log-ratios — a CONSTANT-size broadcast
    (independent of corpus size, so the probe_index broadcast lesson
    does not apply); per-doc scoring is one (doc,bucket) partial agg and
    one ≤B-term sum. Per-bucket log-ratios are rounded to 6dp BEFORE the
    per-doc sum on both engines, and the score is emitted as an integer
    in micro-log-units (the exact decimal sum is a multiple of 1e-6, so
    nearest-integer at 1e6 scaling absorbs float association-order
    error — a final round-to-4dp hit half-way ties across engines)."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    stratum = (
        d.select("lang", "source", bucket.alias("bucket"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("bucket") < _SAMPLE_PCT, 1).otherwise(0)).alias("n_sampled"),
        )
        .select(
            F.lit("stratum").alias("part"),
            F.col("lang").alias("k1"),
            F.col("source").alias("k2"),
            F.col("n_total").alias("n1"),
            F.col("n_sampled").alias("n2"),
            F.lit(None).cast("long").alias("score_u"),
        )
    )

    B = _DSIR_BUCKETS
    wbucket = F.conv(F.substring(F.md5(F.col("wd").cast("binary")), 1, 8), 16, 10).cast("long") % B
    wds = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("wd")
    ).select("doc_id", "lang", wbucket.alias("bucket"))
    db = wds.groupBy("doc_id", "lang", "bucket").agg(F.count("*").alias("cnt"))
    # the model derives ENTIRELY from db (already reduced to one row per
    # (doc, bucket)) in ONE consumer chain: per-bucket raw/target counts
    # are one more partial agg, and the corpus totals are single-
    # partition window sums over those B rows — so the corpus is scanned
    # once and nothing in the model lineage is recomputed per branch
    # (separate tc/rc/tt/rt aggregates each re-scanned the corpus; a
    # window over B=64 rows is free)
    tcnt = F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("cnt")).otherwise(0))
    bc = db.groupBy("bucket").agg(
        F.sum("cnt").alias("cr"), tcnt.alias("ct")
    )
    base = spark.range(B).select(F.col("id").alias("bucket"))
    wtot = W.partitionBy()
    ct0 = F.coalesce("ct", F.lit(0))
    cr0 = F.coalesce("cr", F.lit(0))
    wt = (
        base.join(bc, "bucket", "left")
        .select(
            "bucket",
            F.round(
                F.log((ct0 + F.lit(1.0)) / (F.sum(ct0).over(wtot) + B))
                - F.log((cr0 + F.lit(1.0)) / (F.sum(cr0).over(wtot) + B)),
                6,
            ).alias("lr"),
        )
    )
    score = F.round(F.sum(F.col("cnt") * F.col("lr")) * 1000000, 0).cast("long")
    dsir = (
        db.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            score.alias("score_u"),
        )
        .select(
            F.lit("dsir").alias("part"),
            F.col("lang").alias("k1"),
            F.col("doc_id").cast("string").alias("k2"),
            F.col("n_words").alias("n1"),
            F.when(F.col("score_u") > 0, 1).otherwise(0).cast("long").alias("n2"),
            F.col("score_u"),
        )
    )

    # part='domain_cap': salted two-phase bounded top-K. Phase 1 takes
    # each (source, salt)'s local top-K, so no single reducer ever sees
    # more than its salt shard of a hot domain (web domains are the
    # canonical skew key); phase 2 ranks the <= S*K survivors per source
    # — correct because each salt shard's global-top-K members are in
    # its local top-K. Only kept rows (rank <= K) are emitted, so the
    # result is salt-invariant and equals the oracle's direct window.
    salt = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(_DOMAIN_CAP_SALTS))
    w1 = W.partitionBy("source", "salt").orderBy(F.col("n_chars").desc(), "doc_id")
    cand = (
        d.select("doc_id", "source", "n_chars", salt.alias("salt"))
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _DOMAIN_CAP_K)
    )
    totals = d.groupBy("source").agg(F.count("*").alias("src_total"))
    w2 = W.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    capped = (
        cand.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _DOMAIN_CAP_K)
        .join(F.broadcast(totals), "source")
        .select(
            F.lit("domain_cap").alias("part"),
            F.col("source").alias("k1"),
            F.col("doc_id").cast("string").alias("k2"),
            F.col("rk").cast("long").alias("n1"),
            F.col("src_total").alias("n2"),
            F.col("n_chars").cast("long").alias("score_u"),
        )
    )
    # part='mix' (round 5): temperature-sampled source mixing (Lample &
    # Conneau XLM'19 §3.1; multilingual-pretraining practice, public):
    # draw source s with probability ∝ n_s^α (α=0.5), up-weighting
    # low-resource sources. Deterministic form: per-domain integer
    # weights w = floor(sqrt(n_s)*1000), budget T = total/4 docs,
    # per-domain take = min(n_s, floor(T*w/ΣW)); the kept docs are the
    # domain's first take_s by md5(doc_id) — reproducible, no RNG. The
    # domain scaffold is skewed by construction (bucket sizes 1..15 per
    # 64 ids) so the temperature effect is visible: small domains keep
    # a larger share than proportional sampling gives them. Scale:
    # counts/weights/takes are a #domains-sized broadcast table. The
    # SELECTION must not reuse domain_cap's per-domain rank window —
    # take_s grows linearly with the corpus (budget T = total/4),
    # unlike domain_cap's constant K, so a per-domain window would put
    # take_s rows in one partition. Instead: ONE corpus-wide two-pass
    # rank (q37 shape, range-partitioned — balanced regardless of
    # domain skew) over the lexicographic key (dom, md5, doc_id), then
    # per-domain rank = global rank − the domain's broadcast offset
    # (cumulative counts over the #domains-row table). T*w stays far
    # under 2^53 at any real domain table, so the float division
    # floors identically on both engines.
    dom = F.concat(
        F.lit("d"),
        F.floor(F.sqrt((F.col("doc_id") % 64).cast("double"))).cast("int").cast("string"),
    )
    from .operators.graph import iter_checkpoint

    dd = d.select("doc_id", dom.alias("dom"))
    # materialized: the #domains-row count table feeds THREE consumers
    # (weights/budget, takes, offsets) — without the checkpoint each
    # would re-aggregate the full corpus scan
    cnts = iter_checkpoint(dd.groupBy("dom").agg(F.count("*").alias("n_s")))
    wts = cnts.select(
        "dom",
        "n_s",
        F.floor(F.sqrt(F.col("n_s").cast("double")) * 1000).cast("long").alias("w"),
    )
    tot = wts.agg(
        F.sum("w").alias("tw"), F.floor(F.sum("n_s") / 4).cast("long").alias("tb")
    )
    take = wts.crossJoin(F.broadcast(tot)).select(
        "dom",
        "n_s",
        F.least(
            F.col("n_s"), F.floor(F.col("tb") * F.col("w") / F.col("tw")).cast("long")
        ).alias("take_s"),
    )
    mkey = F.md5(F.col("doc_id").cast("string").cast("binary"))
    keyed = dd.select("doc_id", "dom", mkey.alias("mkey"))
    granked = _two_pass_rank(
        keyed,
        [F.col("dom").asc(), F.col("mkey").asc(), F.col("doc_id").asc()],
        "doc_id",
        extra_cols=["dom"],
    )
    wdom = W.orderBy("dom").rowsBetween(W.unboundedPreceding, -1)
    offs = cnts.select(
        "dom", F.coalesce(F.sum("n_s").over(wdom), F.lit(0)).alias("dom_off")
    )
    mix = (
        granked.join(F.broadcast(offs), "dom")
        .join(F.broadcast(take), "dom")
        .withColumn("rk", F.col("rnk") - F.col("dom_off"))
        .filter(F.col("rk") <= F.col("take_s"))
        .select(
            F.lit("mix").alias("part"),
            F.col("dom").alias("k1"),
            F.col("doc_id").cast("string").alias("k2"),
            F.col("rk").cast("long").alias("n1"),
            F.col("take_s").alias("n2"),
            F.col("n_s").cast("long").alias("score_u"),
        )
    )
    # part='weighted' (round 5, fourth pass): weighted sampling WITHOUT
    # replacement (Efraimidis & Spirakis, IPL 2006 A-ES): each doc draws
    # key u^(1/w) — equivalently ln(u)/w — and the global top-K by key
    # IS an exact weight-proportional sample. Here w = n_chars (the
    # token-budget-aware corpus draw: long docs proportionally likelier)
    # and u derives from md5(doc_id) — reproducible, no RNG, and the
    # same A-ES property holds for any fixed hash since u only needs to
    # be a fixed uniform draw per doc. Parity: the key is rounded to
    # integer NANO-units before ranking, so both engines rank identical
    # integers (tie-broken by doc_id) — the float never decides an
    # order. Scale: the key is a pure map; selection is the q37
    # two-pass rank (range partition + local rank + broadcast offsets)
    # — no global sort, no single-partition window, and at K=50 the
    # kept set is driver-trivial while the rank machinery is the same
    # one that handles take-millions.
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    key_u = F.round(
        F.lit(1000000000.0)
        * (F.log((h + 1) / F.lit(4294967296.0)) / F.col("n_chars")),
        0,
    ).cast("long")
    wbase = d.filter(F.col("n_chars") > 0).select(
        "doc_id", "n_chars", key_u.alias("key_u")
    )
    wranked = _two_pass_rank(
        wbase,
        [F.col("key_u").desc(), F.col("doc_id").asc()],
        "doc_id",
        extra_cols=["n_chars", "key_u"],
    )
    weighted = wranked.filter(F.col("rnk") <= _WEIGHTED_K).select(
        F.lit("weighted").alias("part"),
        F.lit("n_chars").alias("k1"),
        F.col("doc_id").cast("string").alias("k2"),
        F.col("rnk").alias("n1"),
        F.col("n_chars").alias("n2"),
        F.col("key_u").alias("score_u"),
    )
    return stratum.unionAll(dsir).unionAll(capped).unionAll(mix).unionAll(weighted)



@query(
    "q37_global_rank_scalable",
    """
    SELECT 'orders' AS part, o_orderkey AS id,
           cast(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
    FROM orders
    UNION ALL
    SELECT 'shuffle' AS part, doc_id AS id,
           cast(row_number() OVER (ORDER BY md5('42|' || cast(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk
    FROM documents
    UNION ALL
    -- zorder (round 5, seventh pass): Morton interleave of the
    -- 8-bit min/max-scaled (n_chars, doc_id) buckets — bit i of the
    -- n_chars bucket at position 2i+1, bit i of the doc_id bucket at
    -- 2i; the z-value every row would be laid out by under
    -- operators/zorder.optimize_layout
    SELECT 'zorder' AS part, doc_id AS id,
           cast(sum(((ba >> i) & 1) * (1::BIGINT << (2 * i + 1))
                    + ((bb >> i) & 1) * (1::BIGINT << (2 * i)))
                AS BIGINT) AS rnk
    FROM (
      SELECT doc_id,
             (n_chars - min(n_chars) OVER ()) * 256
               // (max(n_chars) OVER () - min(n_chars) OVER () + 1) AS ba,
             (doc_id - min(doc_id) OVER ()) * 256
               // (max(doc_id) OVER () - min(doc_id) OVER () + 1) AS bb
      FROM documents),
      generate_series(0, 7) AS g(i)
    GROUP BY doc_id
    """,
)
def q37_global_rank_scalable(spark, sf_dir):
    """Scalable global ordering family in ONE gate slot,
    `part`-discriminated — global ranking over an UNBOUNDED table
    without the single-partition window (the scalable twin of q49,
    which is only safe under its pushed filter):
      * part='orders': rank orders by (o_totalprice DESC, o_orderkey).
      * part='shuffle': deterministic corpus shuffle — the reproducible
        global training order every pretraining run needs. Rank over
        md5(seed|doc_id): seeded, so epoch 2 reshuffles by changing one
        literal, and any node can recompute any doc's position.
      * part='zorder' (round 5, seventh pass): the Morton z-value of
        the 8-bit-bucketed (n_chars, doc_id) plane — the key
        operators/zorder.optimize_layout physically re-clusters a
        corpus by so parquet min/max stats prune scans on EITHER
        column (Delta/Iceberg's OPTIMIZE ZORDER BY). Pure codegen
        shift/and interleave; the oracle restates the bit arithmetic.

    Both arms share the two-pass pattern (_two_pass_rank):

      1. repartitionByRange on the sort key — equal keys co-locate and
         partition i holds strictly-earlier keys than partition i+1;
      2. local row_number per partition (window PARTITIONED by
         spark_partition_id — parallel, no global sort);
      3. global rank = local rank + offset, where offsets are the
         cumulative counts of earlier partitions (a tiny per-partition
         aggregate joined back broadcast).

    Deterministic regardless of where the range sampler draws boundaries:
    the offsets are computed from the actual partition sizes, and both
    sort keys are unique (o_orderkey / doc_id tiebreak) so
    row_number == rank.

    `parts` is MATERIALIZED (iter_checkpoint) before the two consuming
    branches: both `local` and the offsets agg must see the SAME range
    exchange — planned separately, the range sampler could draw
    different boundaries per branch and misalign _pid against _off
    (round-3 ADVICE)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    okey = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    orders = _two_pass_rank(o, okey, "o_orderkey").select(
        F.lit("orders").alias("part"), F.col("o_orderkey").alias("id"), "rnk"
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("42|"), F.col("doc_id").cast("string")).cast("binary")).alias("_sk"),
    )
    skey = [F.col("_sk").asc(), F.col("doc_id").asc()]
    shuf = _two_pass_rank(d, skey, "doc_id").select(
        F.lit("shuffle").alias("part"), F.col("doc_id").alias("id"), "rnk"
    )
    # part='zorder' (round 5, seventh pass): the Morton z-value each
    # row would be laid out by under operators/zorder.optimize_layout —
    # the data-layout twin of the ordering arms (a linear sort clusters
    # one column; the z-curve clusters both, so parquet min/max stats
    # prune on either). Pure codegen shift/and chain + ONE broadcast
    # 4-number min/max agg; the gate hash-verifies the exact interleave
    # arithmetic the layout writer sorts by.
    from .operators.zorder import with_zvalue

    zd = with_zvalue(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "n_chars",
        "doc_id",
    ).select(
        F.lit("zorder").alias("part"),
        F.col("doc_id").alias("id"),
        F.col("_z").alias("rnk"),
    )
    return orders.unionAll(shuf).unionAll(zd)


def _two_pass_rank(
    df: DataFrame, key: list, id_col: str, extra_cols: list | None = None
) -> DataFrame:
    """(id_col, *extra_cols, rnk): global row_number over `key` without
    a global sort — range partition, local rank, broadcast offsets (see
    q37). `key` must be unique per row for rank == row_number
    determinism. `extra_cols` are carried through so callers that need
    more than the id don't pay a corpus-sized join to re-attach them."""
    from .operators.graph import iter_checkpoint

    parts = iter_checkpoint(
        df.repartitionByRange(16, *key).withColumn("_pid", F.spark_partition_id())
    )
    w_local = W.partitionBy("_pid").orderBy(*key)
    local = parts.withColumn("_lr", F.row_number().over(w_local))
    sizes = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        id_col,
        *(extra_cols or []),
        (F.col("_lr") + F.col("_off")).cast("long").alias("rnk"),
    )


@query(
    "q39_pipeline_roundtrip",
    """
    WITH c AS (
      SELECT cast(doc_id AS VARCHAR) AS doc_id,
             trim(regexp_replace(text, '[^ -~]', '', 'g')) AS clean
      FROM documents)
    SELECT doc_id,
           'done'              AS status,
           cast(5 AS INTEGER)  AS span_count,
           cast(0 AS INTEGER)  AS error_count,
           clean || chr(10) || clean || chr(10) || clean || chr(10) || clean
                 || chr(10) || clean                                         AS txt,
           regexp_replace(clean || chr(10) || clean || chr(10) || clean
                          || chr(10) || clean || chr(10) || clean,
                          '  +', ';', 'g')                                   AS csv
    FROM c
    """,
)
def q39_pipeline_roundtrip(spark, sf_dir):
    """The FLAGSHIP pipeline (pipeline.run_batch), made SQL-oracle-able:
    each document is lifted into the interleaved span shape used by
    entry() — one text span, one synthetic TIFF media span, one html
    span whose blob wraps the same cleaned text in deterministic
    boilerplate (template keyed on doc_id, all three layouts exercised),
    AND (round 5) one audio span whose blob speaks the same text through
    the synthetic audio codec AND one video span whose blob holds the
    same text as a 2-frame static scene (PMVI) — and run through the
    full engine (explode -> route -> fused pandas-UDF decode: OCR for
    media, DOM-heuristic boilerplate strip for html, frame/parity audio
    decode for wav, per-frame OCR + held-scene collapse for avi, all
    dispatched on container magic -> windowed reassembly -> txt/csv
    targets + status). Because decode(encode(x)) == x holds for every
    codec (q27's image invariant, html's extract(wrap(x)) == x, audio's
    decode_audio(encode_audio(x)) == x, video's
    transcribe_video(encode_video([x])) == x), plain SQL states the
    expected output exactly: all five spans reassemble to the cleaned
    text, so txt == clean joined 5x by newline, status == 'done',
    span_count == 5, error_count == 0. This retires q28's permanent
    no_oracle row as the only unoracled pipeline signal (q28's exact
    span-sequence pytest gate stays as defense in depth). pmOCR analog:
    the end-to-end batch conversion run (pmocr.sh:2546-2593 ->
    OCR_Dispatch -> OCR), fixture-checked by run_tests.sh:336-351; the
    html and audio routes are this build's interleaved-multimodal
    extension, absent in pmOCR."""
    import pandas as pd
    from pyspark.sql import types as T

    from . import codecs, pipeline
    from .operators import html_extract

    d = _t(spark, sf_dir, "documents")
    clean = F.trim(F.regexp_replace("text", "[^ -~]", ""))

    @F.pandas_udf(T.BinaryType())
    def encode_blob(text):
        return pd.Series(
            [codecs.encode_image(t, "tiff", salt="q55") for t in text], dtype=object
        )

    @F.pandas_udf(T.BinaryType())
    def encode_html(doc_id, text):
        return pd.Series(
            [
                html_extract.wrap_boilerplate(t, doc_id=int(i)).encode("utf-8")
                for i, t in zip(doc_id, text)
            ],
            dtype=object,
        )

    @F.pandas_udf(T.BinaryType())
    def encode_wav(text):
        return pd.Series(
            [codecs.encode_audio(t, salt="q39a") for t in text], dtype=object
        )

    @F.pandas_udf(T.BinaryType())
    def encode_avi(text):
        # one caption held for 2 frames — transcription collapses the
        # held scene back to the single caption (codecs.transcribe_video)
        return pd.Series(
            [codecs.encode_video([t], hold=2, salt="q39v") for t in text],
            dtype=object,
        )

    base = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        clean.alias("clean_text"),
        F.concat(F.lit("m:"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.concat(F.lit("h:"), F.col("doc_id").cast("string")).alias("html_ref"),
        F.concat(F.lit("a:"), F.col("doc_id").cast("string")).alias("audio_ref"),
        F.concat(F.lit("v:"), F.col("doc_id").cast("string")).alias("video_ref"),
    )
    docs = base.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("clean_text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("tiff").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.col("media_ref").alias("media_ref"),
                F.lit(1).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("html").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.col("html_ref").alias("media_ref"),
                F.lit(2).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("wav").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.col("audio_ref").alias("media_ref"),
                F.lit(3).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("avi").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.col("video_ref").alias("media_ref"),
                F.lit(4).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    blobs = base.select(
        F.col("media_ref"),
        F.lit("tiff").alias("kind"),
        encode_blob(F.col("clean_text")).alias("content"),
    ).unionByName(
        base.select(
            F.col("html_ref").alias("media_ref"),
            F.lit("html").alias("kind"),
            encode_html(F.col("doc_id"), F.col("clean_text")).alias("content"),
        )
    ).unionByName(
        base.select(
            F.col("audio_ref").alias("media_ref"),
            F.lit("wav").alias("kind"),
            encode_wav(F.col("clean_text")).alias("content"),
        )
    ).unionByName(
        base.select(
            F.col("video_ref").alias("media_ref"),
            F.lit("avi").alias("kind"),
            encode_avi(F.col("clean_text")).alias("content"),
        )
    )
    out = pipeline.run_batch(spark, docs, blobs)
    return out.select("doc_id", "status", "span_count", "error_count", "txt", "csv")


# q50/q33 oracles compose other SQL, so they register after definition
ORACLES["q50_dup_components"] = _Q50_ORACLE.format(q18=ORACLES["q18_minhash_lsh"])

#: q17 oracle: the subset arm's self-contained SQL UNION the verify arm,
#: which (like q50) composes q18's candidate SQL as a CTE.
_Q17_ORACLE = f"""
    WITH shs0 AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE doc_id < 150 AND len({_TOKS_SQL}) >= 3
    ),
    shs AS (
      SELECT * FROM shs0 WHERE shingle NOT IN (
        SELECT shingle FROM shs0 GROUP BY shingle HAVING count(*) > {_STOP_SHINGLE_DF})
    ),
    sizess AS (SELECT doc_id, count(*) AS sz FROM shs GROUP BY doc_id),
    pairss AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    cand AS (
      {{q18}}
    ),
    -- snm: sorted-neighborhood candidates — row_number over the
    -- first-3-token blocking key (Spark side: two-pass rank, exact
    -- same total order), pairs within a window of {_SNM_W}
    keyed AS (
      SELECT doc_id, array_to_string(({_TOKS_SQL})[1:3], ' ') AS k
      FROM documents WHERE len({_TOKS_SQL}) >= 3
    ),
    rankedsnm AS (
      SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rnk FROM keyed
    ),
    candsnm AS (
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b
      FROM rankedsnm a JOIN rankedsnm b
        ON b.rnk > a.rnk AND b.rnk <= a.rnk + {_SNM_W - 1}
    ),
    candall AS (
      SELECT 'lsh_verified' AS part, doc_a, doc_b FROM cand
      UNION ALL
      SELECT 'snm' AS part, doc_a, doc_b FROM candsnm
    ),
    shv AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE len({_TOKS_SQL}) >= 3
    ),
    sizesv AS (SELECT doc_id, count(*) AS sz FROM shv GROUP BY doc_id),
    interv AS (
      SELECT c.part, c.doc_a, c.doc_b, count(*) AS inter
      FROM candall c
      JOIN shv a ON a.doc_id = c.doc_a
      JOIN shv b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.part, c.doc_a, c.doc_b
    )
    SELECT 'subset' AS part, doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM pairss JOIN sizess sa ON sa.doc_id = doc_a
                JOIN sizess sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.05
    UNION ALL
    SELECT part, doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM interv JOIN sizesv sa ON sa.doc_id = doc_a
                JOIN sizesv sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.05
    UNION ALL
    -- fs: Fellegi-Sunter scoring over the deterministic dirty replica
    -- (same corruption rules and integer micro-nat weights as the
    -- Spark arm; score > 0 = the lower-threshold cut)
    SELECT 'fs' AS part, c.c_custkey AS doc_a, d.d_key AS doc_b,
           (CASE WHEN c.c_name = d.d_name THEN {_FS_W["name3_e"]}
                 WHEN levenshtein(c.c_name, d.d_name) <= 2
                 THEN {_FS_W["name3_n"]} ELSE {_FS_W["name3_d"]} END
            + CASE WHEN c.c_mktsegment = d.d_seg
                   THEN {_FS_W["seg_a"]} ELSE {_FS_W["seg_d"]} END
            + CASE WHEN cast(floor(c.c_acctbal / 1000) AS BIGINT)
                        = cast(floor(d.d_bal / 1000) AS BIGINT)
                   THEN {_FS_W["bal_a"]} ELSE {_FS_W["bal_d"]} END) * 1.0
           AS jaccard
    FROM customer c
    JOIN (SELECT c_custkey AS d_key,
                 CASE WHEN c_custkey % 3 = 0
                      THEN substr(c_name, 1, length(c_name) - 1) || 'X'
                      ELSE c_name END AS d_name,
                 c_nationkey AS d_nat,
                 CASE WHEN c_custkey % 7 = 0
                      THEN c_acctbal + 1500 ELSE c_acctbal END AS d_bal,
                 CASE WHEN c_custkey % 5 = 0
                      THEN 'UNKNOWN' ELSE c_mktsegment END AS d_seg
          FROM customer) d
      ON c.c_nationkey = d.d_nat
     AND substr(c.c_name, 1, 16) = substr(d.d_name, 1, 16)
    WHERE (CASE WHEN c.c_name = d.d_name THEN {_FS_W["name3_e"]}
                WHEN levenshtein(c.c_name, d.d_name) <= 2
                THEN {_FS_W["name3_n"]} ELSE {_FS_W["name3_d"]} END
           + CASE WHEN c.c_mktsegment = d.d_seg
                  THEN {_FS_W["seg_a"]} ELSE {_FS_W["seg_d"]} END
           + CASE WHEN cast(floor(c.c_acctbal / 1000) AS BIGINT)
                       = cast(floor(d.d_bal / 1000) AS BIGINT)
                  THEN {_FS_W["bal_a"]} ELSE {_FS_W["bal_d"]} END) > 0
"""
ORACLES["q17_ngram_jaccard"] = _Q17_ORACLE.format(q18=ORACLES["q18_minhash_lsh"])
ORACLES["q33_ann_ivf_kmeans"] = _q33_oracle()


# =====================================================================
# 6. Round-3 training-data operators: PII redaction, repetition quality,
#    n-gram LM counts, benchmark contamination, sequence packing
# =====================================================================

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


#: q40 part='blocklist' entries — one of each match shape the UT1
#: suffix semantics must handle: exact subdomain host, registrable
#: domain (blocks all subdomains), middle suffix, plain apex host.
_Q40_BLOCKLIST = ["ads.src0.com", "src1.net", "tracker.src2.org", "src3.com"]

#: q40 part='badwords' lexicon (LDNOOBW-style term blocklist, C4 §2.2's
#: page-drop rule): two corpus-vocabulary words so both hit and miss
#: classes appear in the gate window, one absent word so a spurious
#: match would flip rows.
_Q40_BADWORDS = ["slow", "merge", "leak"]

#: q40 part='homoglyph' confusable map (UTS #39 security mechanism,
#: the spam/dedup-evasion fold): Cyrillic lookalikes -> Latin. Kept as
#: two parallel strings because the fold is ONE translate() call in
#: both engines.
_Q40_CONFUSABLES = "аеорсхіѕј"
_Q40_CONF_LATIN = "aeopcxisj"


def _q40_badwords_sql() -> str:
    return "[" + ", ".join(f"'{wd}'" for wd in _Q40_BADWORDS) + "]"

#: q40 part='robots' literal rule set (RFC 9309 prefix rules): exercises
#: plain deny, longer-allow-overrides-deny, sibling-prefix deny with a
#: carve-out, and a deep deny that only fires on the /deep suffix docs.
_Q40_ROBOTS = [
    ("/src0", 0),
    ("/src0/p3", 1),
    ("/src1/p", 0),
    ("/src1/p2", 1),
    ("/src2/p4/deep", 0),
]


def _q40_robots_sql_lit() -> str:
    return "[" + ", ".join(
        "{'r': '%s', 'a': %d}" % (r, a) for r, a in _Q40_ROBOTS
    ) + "]"


@query(
    "q40_pii_redact",
    f"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || doc_id || '@example.com or 555-'
                       || lpad(cast(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                       || lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents),
    w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
    pg AS (
      SELECT doc_id,
        list_concat(list_concat(list_concat(
          list_transform(range(0, (len(ws) + 7) // 8), i ->
            array_to_string(ws[(i*8+1):(i*8+8)], ' ') ||
            CASE WHEN (doc_id + i) % 3 <> 2 THEN '.' ELSE '' END),
          CASE WHEN doc_id % 97 = 0
               THEN ['lorem ipsum dolor sit amet consectetur adipiscing.']
               ELSE []::VARCHAR[] END),
          CASE WHEN doc_id % 89 = 0
               THEN ['function() {{ var x = 1; }}'] ELSE []::VARCHAR[] END),
          CASE WHEN doc_id % 41 = 0
               THEN ['please enable javascript to view this page.']
               ELSE []::VARCHAR[] END) AS lines
      FROM w),
    c4 AS (
      SELECT doc_id, lines,
             list_filter(lines, ln -> right(ln, 1) IN ('.', '!', '?', '"')
                                   AND len(string_split(ln, ' ')) >= 5
                                   AND NOT contains(ln, 'javascript')) AS kept,
             (contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum')
              OR contains(array_to_string(lines, chr(10)), '{{'))      AS page_bad
      FROM pg)
    SELECT 'pii' AS part, doc_id,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')                  AS out_text,
           cast(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)   AS n_a,
           cast(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT)   AS n_b,
           cast(1 AS BIGINT)                                              AS keep
    FROM p
    UNION ALL
    SELECT 'c4' AS part, doc_id,
           CASE WHEN page_bad OR len(kept) < 3 THEN ''
                ELSE array_to_string(kept, chr(10)) END                   AS out_text,
           cast(len(lines) AS BIGINT)                                     AS n_a,
           cast(len(kept) AS BIGINT)                                      AS n_b,
           cast(CASE WHEN page_bad OR len(kept) < 3 THEN 0 ELSE 1 END
                AS BIGINT)                                                AS keep
    FROM c4
    UNION ALL
    -- within-doc line dedup keep-first: min position per distinct line,
    -- reassembled in position order (mirrors Spark array_distinct)
    SELECT 'linededup' AS part, l.doc_id, dd.out_text,
           cast(len(l.lns) AS BIGINT) AS n_a, dd.n_b,
           cast(1 AS BIGINT) AS keep
    FROM (
      SELECT doc_id,
        list_concat(base, CASE WHEN doc_id % 5 = 0 THEN base[1:1]
                               ELSE []::VARCHAR[] END) AS lns
      FROM (
        SELECT doc_id,
          list_transform(range(0, (len(ws) + 7) // 8), i ->
            array_to_string(ws[(i*8+1):(i*8+8)], ' ') ||
            CASE WHEN (doc_id + i) % 3 <> 2 THEN '.' ELSE '' END) AS base
        FROM w)) l
    JOIN (
      SELECT doc_id, string_agg(ln, chr(10) ORDER BY i) AS out_text,
             cast(count(*) AS BIGINT) AS n_b
      FROM (
        SELECT doc_id, ln, min(i) AS i
        FROM (
          SELECT x.doc_id, t.i, x.lns[t.i] AS ln
          FROM (
            SELECT doc_id,
              list_concat(base, CASE WHEN doc_id % 5 = 0 THEN base[1:1]
                                     ELSE []::VARCHAR[] END) AS lns
            FROM (
              SELECT doc_id,
                list_transform(range(0, (len(ws) + 7) // 8), i ->
                  array_to_string(ws[(i*8+1):(i*8+8)], ' ') ||
                  CASE WHEN (doc_id + i) % 3 <> 2 THEN '.' ELSE '' END) AS base
              FROM w)) x,
          unnest(range(1, len(x.lns) + 1)) AS t(i))
        GROUP BY doc_id, ln)
      GROUP BY doc_id) dd USING (doc_id)
    UNION ALL
    -- expected markdown stated INDEPENDENTLY by string construction;
    -- the Spark side runs the real HTML->markdown converter over
    -- scaffold HTML built from the same first 10 words
    SELECT 'markdown' AS part, doc_id, md AS out_text,
           cast(len(string_split(md, chr(10) || chr(10))) AS BIGINT) AS n_a,
           cast(len(regexp_extract_all(md, '\\]\\(')) AS BIGINT)    AS n_b,
           cast(1 AS BIGINT) AS keep
    FROM (
      SELECT doc_id,
        repeat('#', cast(doc_id % 3 + 1 AS INT)) || ' ' || ws[1] || ' ' || ws[2]
        || chr(10) || chr(10) || ws[3] || ' **' || ws[4] || '** ' || ws[5]
        || chr(10) || chr(10) ||
          CASE WHEN doc_id % 2 = 0
               THEN '- ' || ws[6] || chr(10) || '- ' || ws[7]
               ELSE '1. ' || ws[6] || chr(10) || '2. ' || ws[7] END
        || chr(10) || chr(10)
        || '| ' || ws[8] || ' | ' || ws[9] || ' |' || chr(10)
        || '| --- | --- |' || chr(10)
        || '| ' || ws[10] || ' | ' || doc_id || ' |'
        || chr(10) || chr(10)
        || '[' || ws[8] || ' ' || ws[9] || '](https://ex.com/'
        || (doc_id % 10) || ')' AS md
      FROM w)
    UNION ALL
    -- ocrfix: expected output stated INDEPENDENTLY — the Spark side
    -- runs the real dehyphenate+reflow chain over the hyphen-wrap
    -- scaffold and must reproduce the raw text byte-for-byte
    SELECT 'ocrfix' AS part, doc_id, text AS out_text,
           cast(len(list_filter(ws, wd -> length(wd) >= 6)) AS BIGINT) AS n_a,
           cast((len(ws) + 7) // 8 - 1 AS BIGINT)                      AS n_b,
           cast(1 AS BIGINT)                                           AS keep
    FROM w
    UNION ALL
    -- garbage: rmgarbage-style symbol-noise detection + strip; the
    -- cleaner provably recovers the raw text, the counts and verdict
    -- flag the noised scaffold docs
    SELECT 'garbage' AS part, doc_id,
           trim(regexp_replace(stripped, ' {{2,}}', ' ', 'g'))          AS out_text,
           cast(length(noised) - length(stripped) AS BIGINT)            AS n_a,
           cast(len(list_filter(string_split(noised, ' '),
                tk -> NOT regexp_matches(tk, '^[a-z0-9]+$'))) AS BIGINT) AS n_b,
           cast(CASE WHEN length(noised) = length(stripped)
                      AND len(list_filter(string_split(noised, ' '),
                          tk -> NOT regexp_matches(tk, '^[a-z0-9]+$'))) = 0
                THEN 1 ELSE 0 END AS BIGINT)                             AS keep
    FROM (
      SELECT doc_id, noised,
             regexp_replace(noised, '[^a-z0-9 ]', '', 'g') AS stripped
      FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0
                    THEN text || repeat(' #$%~@!', length(text) // 50 + 1)
                    ELSE text END AS noised
        FROM documents))
    UNION ALL
    -- blocklist: UT1-style domain-suffix filter over the scaffold host;
    -- the suffix chain and the literal list are restated independently
    SELECT 'blocklist' AS part, doc_id, host AS out_text,
           cast(len(sfx) AS BIGINT) AS n_a,
           cast(n_hit AS BIGINT)    AS n_b,
           cast(CASE WHEN n_hit = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM (
      SELECT doc_id, host, sfx,
             len(list_intersect(sfx,
                 ['{"', '".join(_Q40_BLOCKLIST)}'])) AS n_hit
      FROM (
        SELECT doc_id, host,
               list_transform(range(1, len(parts) + 1),
                 i -> array_to_string(list_slice(parts, i, len(parts)), '.')) AS sfx
        FROM (
          SELECT doc_id, host, string_split(host, '.') AS parts
          FROM (
            SELECT doc_id,
                   (CASE WHEN doc_id % 11 = 0 THEN 'ads.'
                         WHEN doc_id % 13 = 0 THEN 'cdn.tracker.'
                         ELSE '' END)
                   || source || '.'
                   || (CASE WHEN doc_id % 3 = 0 THEN 'com'
                            WHEN doc_id % 3 = 1 THEN 'net'
                            ELSE 'org' END) AS host
            FROM documents))))
    UNION ALL
    -- mojibake: UTF-8-read-as-Latin-1 repair (ftfy's core fix). The
    -- scaffold injects Latin-1 accents (a->228, e->233, o->248), the
    -- corruption is restated as string arithmetic (the UTF-8 bytes of
    -- each accent read as Latin-1: 233 -> chr(195)||chr(169)), and the
    -- expected repair is the accented original — the Spark side runs
    -- the REAL charset round-trip (functions.fix_mojibake)
    SELECT 'mojibake' AS part, doc_id, acc AS out_text,
           cast(len(regexp_extract_all(cor, chr(195))) AS BIGINT) AS n_a,
           cast(length(cor) - length(acc) AS BIGINT)              AS n_b,
           cast(CASE WHEN length(cor) > length(acc) THEN 1 ELSE 0 END
                AS BIGINT)                                        AS keep
    FROM (
      SELECT doc_id, acc,
             replace(replace(replace(acc, chr(228), chr(195) || chr(164)),
                     chr(233), chr(195) || chr(169)),
                     chr(248), chr(195) || chr(184)) AS cor
      FROM (SELECT doc_id,
                   replace(replace(replace(text, 'a', chr(228)),
                           'e', chr(233)), 'o', chr(248)) AS acc
            FROM documents))
    UNION ALL
    -- robots: RFC 9309 longest-match URL admission over the literal
    -- rule set; filter + length-argmax + allow-wins-tie + default-allow
    -- restated independently over the same scaffold path
    SELECT 'robots' AS part, doc_id, path AS out_text,
           cast(len(m) AS BIGINT)  AS n_a,
           cast(best AS BIGINT)    AS n_b,
           cast(CASE WHEN len(m) = 0 THEN 1
                     ELSE list_max(list_transform(
                            list_filter(m, e -> length(e.r) = best),
                            e -> e.a))
                END AS BIGINT)     AS keep
    FROM (
      SELECT doc_id, path, m,
             coalesce(list_max(list_transform(m, e -> length(e.r))), 0) AS best
      FROM (
        SELECT doc_id, path,
               list_filter({_q40_robots_sql_lit()},
                           e -> starts_with(path, e.r)) AS m
        FROM (
          SELECT doc_id,
                 '/' || source || '/p' || (doc_id % 7)
                 || CASE WHEN doc_id % 5 = 0 THEN '/deep' ELSE '' END AS path
          FROM documents)))
    UNION ALL
    -- nfc: DuckDB's own nfc_normalize() is the INDEPENDENT oracle for
    -- the Spark-side unicodedata NFC composition over the decomposed
    -- scaffold (a+U+0300, e+U+0301, o+U+0303)
    SELECT 'nfc' AS part, doc_id, nfc_normalize(dtxt) AS out_text,
           cast(length(dtxt) AS BIGINT)                AS n_a,
           cast(length(nfc_normalize(dtxt)) AS BIGINT) AS n_b,
           cast(CASE WHEN length(dtxt) > length(nfc_normalize(dtxt))
                THEN 1 ELSE 0 END AS BIGINT)           AS keep
    FROM (
      SELECT doc_id,
             replace(replace(replace(text, 'a', 'a' || chr(768)),
                     'e', 'e' || chr(769)), 'o', 'o' || chr(771)) AS dtxt
      FROM documents)
    UNION ALL
    -- badwords: LDNOOBW/C4-style lexicon page drop; matched set +
    -- occurrence count in-row, keep = no occurrence
    SELECT 'badwords' AS part, doc_id,
           coalesce(array_to_string(
             list_sort(list_distinct(list_intersect(bwt, {_q40_badwords_sql()}))),
             ','), '')                          AS out_text,
           cast(len(list_filter(bwt,
             t -> list_contains({_q40_badwords_sql()}, t))) AS BIGINT) AS n_a,
           cast(len(bwt) AS BIGINT)             AS n_b,
           cast(CASE WHEN len(list_filter(bwt,
             t -> list_contains({_q40_badwords_sql()}, t))) = 0
                THEN 1 ELSE 0 END AS BIGINT)    AS keep
    FROM (SELECT doc_id, {_TOKS_SQL} AS bwt FROM documents)
    UNION ALL
    -- homoglyph: UTS #39 confusable folding — DuckDB's translate() is
    -- the independent implementation of the same fold
    SELECT 'homoglyph' AS part, doc_id,
           translate(hgt, '{_Q40_CONFUSABLES}', '{_Q40_CONF_LATIN}') AS out_text,
           cast(length(hgt)
                - length(translate(hgt, '{_Q40_CONFUSABLES}', '')) AS BIGINT)
                                                 AS n_a,
           cast(length(hgt) AS BIGINT)           AS n_b,
           cast(CASE WHEN length(hgt)
                     = length(translate(hgt, '{_Q40_CONFUSABLES}', ''))
                THEN 1 ELSE 0 END AS BIGINT)     AS keep
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN replace(t1, 'e', 'е') ELSE t1 END AS hgt
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN replace(text, 'a', 'а') ELSE text END AS t1
            FROM documents))
    """,
)
def q40_pii_redact(spark, sf_dir):
    """Text-hygiene family in one gate slot, `part`-discriminated (the
    q16/q21 fold policy):
      * part='pii' — PII redaction: replace emails/phones with typed
        placeholder tokens and count removals per doc (out_text =
        redacted text, n_a/n_b = email/phone counts, keep = 1).
      * part='c4' — C4-style page cleaning (Raffel et al., JMLR 2020
        §2.2, public): keep only lines that end in terminal punctuation,
        have >= 5 words, and don't mention javascript; drop the whole
        page when it contains 'lorem ipsum' or a '{', or when fewer
        than 3 lines survive (out_text = kept lines joined by newline,
        '' for dropped pages; n_a/n_b = total/kept line counts).
      * part='ocrfix' (round 5) — OCR de-hyphenation + hard-wrap reflow
        (functions.dehyphenate/reflow) over a provably-invertible
        hyphen-wrap scaffold; the repair must reproduce the raw text
        byte-for-byte (oracle states it independently), keep = the
        Spark-side round-trip verdict.
      * part='garbage' (round 5) — rmgarbage-style OCR symbol-noise
        detection + strip (Kulp & Kontostathis 2007, public) over a
        length-scaled noise scaffold on every 11th doc; n_a/n_b =
        symbol chars / non-alnum tokens, keep = noise-free verdict.
      * part='mojibake' (round 5, seventh pass) — UTF-8-read-as-
        Latin-1 repair (functions.fix_mojibake, ftfy's core fix) via
        the real encode/validate/decode charset round-trip; the
        oracle restates corruption AND expected repair as string
        arithmetic. n_a = mojibake lead chars, n_b = chars recovered,
        keep = a real repair happened.
      * part='robots' (round 5, eighth pass) — RFC 9309 longest-match
        URL admission (operators/robots.py literal codegen form) over
        a scaffold path; the oracle restates filter + length-argmax +
        allow-wins-tie + default-allow. keep = allowed.
      * part='nfc' (round 5, eighth pass) — Unicode NFC composition
        (functions.nfc_normalize, Arrow-batched unicodedata) over a
        decomposed combining-mark scaffold, verified against DuckDB's
        INDEPENDENT nfc_normalize(). keep = composition happened.
    The synthetic corpus is a flat word stream with no PII and no line
    structure, so both parts run on deterministic scaffolding computed
    identically on both oracle sides: every 7th doc gains a synthetic
    email+phone; every doc is re-lined into 8-word chunks with a
    (doc_id+i)%3 terminal-punctuation pattern, and docs at 97/89/41
    strides gain a lorem-ipsum / code / javascript poison line. The
    operators under test are the redaction and the line/page rules.

    Scale: both parts are pure JVM expressions inside whole-stage
    codegen (regexps; array transform/filter — never an explode) — zero
    shuffles, zero Python, zero row amplification; at 100 TB this is a
    map-only pass bounded by scan + regex/array throughput
    (test_q40_redact_map_only pins 0 exchanges). pmOCR analog:
    X1-family sed post-processing (pmocr.sh:2013-2043) generalized to
    content hygiene."""
    d = _t(spark, sf_dir, "documents")
    pid = F.col("doc_id") % 1000
    pid4 = F.col("doc_id") % 10000
    enriched = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad(pid.cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(pid4.cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    t = F.col("t")
    pii = d.select("doc_id", enriched.alias("t")).select(
        F.lit("pii").alias("part"),
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("out_text"),
        F.regexp_count(t, F.lit(_EMAIL_RE)).cast("long").alias("n_a"),
        F.regexp_count(t, F.lit(_PHONE_RE)).cast("long").alias("n_b"),
        F.lit(1).cast("long").alias("keep"),
    )

    ws = F.split(F.col("text"), " ")
    nch = F.floor((F.size(ws) + F.lit(7)) / F.lit(8)).cast("int")
    base = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.concat(
            F.array_join(F.slice(ws, i * 8 + 1, 8), " "),
            F.when((F.col("doc_id") + i) % 3 != 2, F.lit(".")).otherwise(F.lit("")),
        ),
    )

    def poison(stride: int, line: str):
        return F.when(F.col("doc_id") % stride == 0, F.array(F.lit(line))).otherwise(
            F.array().cast("array<string>")
        )

    lines = F.concat(
        base,
        poison(97, "lorem ipsum dolor sit amet consectetur adipiscing."),
        poison(89, "function() { var x = 1; }"),
        poison(41, "please enable javascript to view this page."),
    )
    kept = F.filter(
        lines,
        lambda ln: F.substring(ln, -1, 1).isin(".", "!", "?", '"')
        & (F.size(F.split(ln, " ")) >= 5)
        & ~ln.contains("javascript"),
    )
    pgtxt = F.array_join(lines, "\n")
    bad = (
        F.lower(pgtxt).contains("lorem ipsum")
        | pgtxt.contains("{")
        | (F.size(kept) < 3)
    )
    c4 = d.select(
        F.lit("c4").alias("part"),
        "doc_id",
        F.when(bad, F.lit("")).otherwise(F.array_join(kept, "\n")).alias("out_text"),
        F.size(lines).cast("long").alias("n_a"),
        F.size(kept).cast("long").alias("n_b"),
        F.when(bad, F.lit(0)).otherwise(F.lit(1)).cast("long").alias("keep"),
    )

    # part='linededup' (round 5): within-doc line dedup keep-first
    # (RefinedWeb-style line-wise correction). array_distinct preserves
    # first-occurrence order, so the whole arm is one map-only array
    # expression — no explode, no shuffle, no Python; the scaffold
    # injects a guaranteed duplicate of line 1 on every 5th doc.
    dupped = F.concat(
        base,
        F.when(F.col("doc_id") % 5 == 0, F.slice(base, 1, 1)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    dedup_lines = F.array_distinct(dupped)
    linededup = d.select(
        F.lit("linededup").alias("part"),
        "doc_id",
        F.array_join(dedup_lines, "\n").alias("out_text"),
        F.size(dupped).cast("long").alias("n_a"),
        F.size(dedup_lines).cast("long").alias("n_b"),
        F.lit(1).cast("long").alias("keep"),
    )

    # part='markdown' (round 5): the REAL structural converter
    # (operators/html_extract.to_markdown — headings, lists, pipe
    # tables, links, emphasis, nav/script exclusion) over scaffold HTML
    # built from each doc's first 10 words; the oracle states the
    # expected markdown INDEPENDENTLY via string construction, so the
    # hash verifies the converter's exact output. Arrow-batched pandas
    # UDF — the one Python stage in the family, map-only.
    from pmocr_spark.operators.html_extract import to_markdown

    def _w(i):
        return F.element_at(ws, i)

    hlvl = (F.col("doc_id") % 3 + 1).cast("int").cast("string")
    list_html = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("<ul><li>"), _w(6), F.lit("</li><li>"), _w(7), F.lit("</li></ul>")),
    ).otherwise(
        F.concat(F.lit("<ol><li>"), _w(6), F.lit("</li><li>"), _w(7), F.lit("</li></ol>"))
    )
    html = F.concat(
        F.lit('<html><head><script>var x=1;</script></head><body>'),
        F.lit('<nav><a href="/h">Home</a></nav><h'),
        hlvl,
        F.lit(">"),
        _w(1),
        F.lit(" "),
        _w(2),
        F.lit("</h"),
        hlvl,
        F.lit("><p>"),
        _w(3),
        F.lit(" <b>"),
        _w(4),
        F.lit("</b> "),
        _w(5),
        F.lit("</p>"),
        list_html,
        F.lit("<table><tr><th>"),
        _w(8),
        F.lit("</th><th>"),
        _w(9),
        F.lit("</th></tr><tr><td>"),
        _w(10),
        F.lit("</td><td>"),
        F.col("doc_id").cast("string"),
        F.lit('</td></tr></table><p><a href="https://ex.com/'),
        (F.col("doc_id") % 10).cast("string"),
        F.lit('">'),
        _w(8),
        F.lit(" "),
        _w(9),
        F.lit("</a></p></body></html>"),
    )
    md_conv = F.pandas_udf(
        lambda s: s.map(lambda h: to_markdown(h) if h is not None else None),
        "string",
    )
    md = d.select("doc_id", md_conv(html).alias("out_text")).select(
        F.lit("markdown").alias("part"),
        "doc_id",
        "out_text",
        F.size(F.split("out_text", "\n\n")).cast("long").alias("n_a"),
        F.regexp_count("out_text", F.lit(r"\]\(")).cast("long").alias("n_b"),
        F.lit(1).cast("long").alias("keep"),
    )

    # part='ocrfix' (round 5): OCR de-hyphenation + hard-wrap reflow
    # (functions.dehyphenate/reflow — the post-recognition text repair
    # every OCR pipeline runs; pmOCR analog: the X1 sed family,
    # pmocr.sh:2013-2043) over a provably-INVERTIBLE scaffold: every
    # word of >= 6 chars is split after its 3rd char with a hyphenated
    # line break ('-\n'), then the doc is hard-wrapped into 8-word
    # lines. The repair chain must reproduce the raw text EXACTLY —
    # `keep` carries the Spark-side round-trip verdict and the oracle
    # states out_text independently as the raw text, so the driver hash
    # verifies the repair byte-for-byte. n_a = hyphen breaks repaired,
    # n_b = line breaks reflowed, both stated independently on the
    # oracle side by construction. Codegen regexps + array ops only:
    # map-only, zero shuffles, zero Python, zero row amplification.
    from pmocr_spark.functions import dehyphenate, reflow

    broken = F.transform(
        ws,
        lambda w: F.when(
            F.length(w) >= 6,
            F.concat(
                F.substring(w, 1, 3), F.lit("-\n"), F.substring(w, 4, 2147483647)
            ),
        ).otherwise(w),
    )
    wrapped = F.array_join(
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.array_join(F.slice(broken, i * 8 + 1, 8), " "),
        ),
        "\n",
    )
    fixed = reflow(dehyphenate(wrapped))
    ocrfix = d.select(
        F.lit("ocrfix").alias("part"),
        "doc_id",
        fixed.alias("out_text"),
        F.size(F.filter(ws, lambda w: F.length(w) >= 6)).cast("long").alias("n_a"),
        (nch - 1).cast("long").alias("n_b"),
        (fixed == F.col("text")).cast("long").alias("keep"),
    )

    # part='garbage' (round 5): OCR garbage detection (rmgarbage-style
    # rules, Kulp & Kontostathis CACM'07 / Taghva et al. — public):
    # flag documents whose character stream carries the symbol noise
    # OCR engines emit on non-text regions, and strip it. Scaffold:
    # every 11th doc gains a symbol-noise tail scaled to its length
    # (one ' #$%~@!' token per 50 chars) so the verdict is
    # deterministic at every SF. out_text = cleaned text (symbol strip
    # + space collapse + trim — provably recovers the raw text), n_a =
    # symbol chars, n_b = non-[a-z0-9]+ tokens, keep = noise-free
    # verdict. Pure codegen regexps — map-only at any scale.
    n_rep = (F.length("text") / F.lit(50)).cast("int") + 1
    noised = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.col("text"), F.repeat(F.lit(" #$%~@!"), n_rep)),
    ).otherwise(F.col("text"))
    stripped = F.regexp_replace(noised, "[^a-z0-9 ]", "")
    n_bad = (F.length(noised) - F.length(stripped)).cast("long")
    n_badtok = F.size(
        F.filter(F.split(noised, " "), lambda tk: ~tk.rlike("^[a-z0-9]+$"))
    ).cast("long")
    garbage = d.select(
        F.lit("garbage").alias("part"),
        "doc_id",
        F.trim(F.regexp_replace(stripped, " {2,}", " ")).alias("out_text"),
        n_bad.alias("n_a"),
        n_badtok.alias("n_b"),
        ((n_bad == 0) & (n_badtok == 0)).cast("long").alias("keep"),
    )
    # part='blocklist' (round 5, fifth pass): UT1/RefinedWeb-style
    # domain-blocklist filter (operators/blocklist.py) with SUFFIX
    # semantics — an entry 'src1.net' blocks the host and every
    # subdomain. Scaffold host built from (doc_id mods, source)
    # identically on both oracle sides; _Q40_BLOCKLIST exercises all
    # three match shapes (exact subdomain, registrable domain, middle
    # suffix). The literal-array form keeps the family's 0-exchange
    # pin: suffix chain + array_intersect are pure codegen, map-only.
    from pmocr_spark.operators.blocklist import blocklist_verdict_lit, host_suffixes

    host = F.concat(
        F.when(F.col("doc_id") % 11 == 0, F.lit("ads."))
        .when(F.col("doc_id") % 13 == 0, F.lit("cdn.tracker."))
        .otherwise(F.lit("")),
        F.col("source"),
        F.lit("."),
        F.when(F.col("doc_id") % 3 == 0, F.lit("com"))
        .when(F.col("doc_id") % 3 == 1, F.lit("net"))
        .otherwise(F.lit("org")),
    )
    n_hit = blocklist_verdict_lit(host, _Q40_BLOCKLIST)
    blocked = d.select(
        F.lit("blocklist").alias("part"),
        "doc_id",
        host.alias("out_text"),
        F.size(host_suffixes(host)).cast("long").alias("n_a"),
        n_hit.cast("long").alias("n_b"),
        (n_hit == 0).cast("long").alias("keep"),
    )
    # part='mojibake' (round 5, seventh pass): the REAL charset
    # round-trip repair (functions.fix_mojibake — encode Latin-1,
    # validate UTF-8, decode; guarded lazily so Spark 4's
    # MALFORMED_CHARACTER_CODING can't fire) over a scaffold whose
    # corruption the oracle restates as plain string arithmetic.
    # Docs without a/e/o stay pure ASCII and exercise the no-op
    # branch (keep=0, out_text == text). Map-only codegen — the
    # family's 0-exchange pin carries it.
    from pmocr_spark.functions import fix_mojibake, is_mojibake

    acc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("a"), F.lit("ä")),
            F.lit("e"),
            F.lit("é"),
        ),
        F.lit("o"),
        F.lit("ø"),
    )
    cor = F.decode(F.encode(acc, "UTF-8"), "ISO-8859-1")
    fixed = fix_mojibake(cor)
    moji = d.select(
        F.lit("mojibake").alias("part"),
        "doc_id",
        fixed.alias("out_text"),
        F.regexp_count(cor, F.lit("Ã")).cast("long").alias("n_a"),
        (F.length(cor) - F.length(fixed)).cast("long").alias("n_b"),
        is_mojibake(cor).alias("keep"),
    )
    # part='robots' (round 5, eighth pass): RFC 9309 longest-match URL
    # admission (operators/robots.py — the crawl-policy filter upstream
    # of every extraction pipeline; CommonCrawl honors robots per host).
    # Scaffold path from (source, doc_id mods) identically on both
    # oracle sides; _Q40_ROBOTS exercises deny, longer-allow-override,
    # sibling carve-out, and a deep-only deny. The literal codegen form
    # (higher-order filter/transform over a literal rule array) keeps
    # the family's 0-exchange pin; the parse + broadcast-join form is
    # pinned by tests/test_robots.py. n_a = matching rules, n_b = best
    # match length, keep = the allow verdict.
    from pmocr_spark.operators.robots import longest_match_lit

    rpath = F.concat(
        F.lit("/"),
        F.col("source"),
        F.lit("/p"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/deep")).otherwise(F.lit("")),
    )
    n_m, best_len, allow = longest_match_lit(rpath, _Q40_ROBOTS)
    robots = d.select(
        F.lit("robots").alias("part"),
        "doc_id",
        rpath.alias("out_text"),
        n_m.cast("long").alias("n_a"),
        best_len.cast("long").alias("n_b"),
        allow.cast("long").alias("keep"),
    )
    # part='nfc' (round 5, eighth pass): Unicode NFC canonical
    # composition (functions.nfc_normalize — the multilingual-corpus
    # hygiene step before dedup/counting; decomposed sequences split
    # exact-dedup clusters). Scaffold injects combining marks
    # (a+U+0300, e+U+0301, o+U+0303); the oracle runs DuckDB's
    # INDEPENDENT nfc_normalize() over the same scaffold, so the gate
    # verifies composition itself, not a restatement. The family's
    # second Arrow-batched stage (plan pin updated), still map-only.
    from pmocr_spark.functions import nfc_normalize

    dec = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("a"), F.lit("a\u0300")),
            F.lit("e"),
            F.lit("e\u0301"),
        ),
        F.lit("o"),
        F.lit("o\u0303"),
    )
    comp = nfc_normalize(dec)
    nfc = d.select("doc_id", dec.alias("dec"), comp.alias("comp")).select(
        F.lit("nfc").alias("part"),
        "doc_id",
        F.col("comp").alias("out_text"),
        F.length("dec").cast("long").alias("n_a"),
        F.length("comp").cast("long").alias("n_b"),
        (F.length("dec") > F.length("comp")).cast("long").alias("keep"),
    )
    # part='badwords' (round 5): lexicon term filter — the
    # LDNOOBW-style bad-word page drop C4 applies before every other
    # rule (Raffel et al. JMLR 2020 §2.2: "any word on the blocklist").
    # The SCALABLE shape for a ~2k-word lexicon is a literal array in
    # the plan (broadcast-by-construction) probed with in-row array
    # ops — array_intersect for the matched set, a filter lambda for
    # occurrence counts — never a regex alternation scan and never a
    # join: the arm stays inside whole-stage codegen and the family's
    # 0-exchange pin.
    toks40 = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    lex = F.array(*[F.lit(wd) for wd in _Q40_BADWORDS])
    n_occ = F.size(F.filter(toks40, lambda t: t.isin(*_Q40_BADWORDS)))
    badwords = d.select(
        F.lit("badwords").alias("part"),
        "doc_id",
        F.concat_ws(",", F.array_sort(F.array_intersect(toks40, lex))).alias(
            "out_text"
        ),
        n_occ.cast("long").alias("n_a"),
        F.size(toks40).cast("long").alias("n_b"),
        (n_occ == 0).cast("long").alias("keep"),
    )
    # part='homoglyph' (round 5): Unicode confusable folding (UTS #39
    # — the spam/dedup-evasion hygiene step: Cyrillic а/е/о/... visually
    # impersonating Latin split exact-dedup clusters and dodge term
    # blocklists). Scaffold injects confusables keyed off doc_id mods;
    # the fold is ONE translate() (codegen, identical Postgres-style
    # semantics in both engines — DuckDB's translate is the INDEPENDENT
    # check) and must restore the original text byte-for-byte. n_a =
    # confusable chars present (translate-delete length trick), keep =
    # already-clean. Map-only; the family's 0-exchange pin unchanged.
    hg = F.when(
        F.col("doc_id") % 3 == 0,
        F.replace(F.col("text"), F.lit("a"), F.lit("а")),
    ).otherwise(F.col("text"))
    hg = F.when(
        F.col("doc_id") % 5 == 0, F.replace(hg, F.lit("e"), F.lit("е"))
    ).otherwise(hg)
    homoglyph = d.select("doc_id", "text", hg.alias("hgt")).select(
        F.lit("homoglyph").alias("part"),
        "doc_id",
        F.translate("hgt", _Q40_CONFUSABLES, _Q40_CONF_LATIN).alias("out_text"),
        (F.length("hgt") - F.length(F.translate("hgt", _Q40_CONFUSABLES, "")))
        .cast("long")
        .alias("n_a"),
        F.length("hgt").cast("long").alias("n_b"),
        (
            F.length("hgt")
            == F.length(F.translate("hgt", _Q40_CONFUSABLES, ""))
        )
        .cast("long")
        .alias("keep"),
    )
    return (
        pii.unionAll(c4)
        .unionAll(linededup)
        .unionAll(md)
        .unionAll(ocrfix)
        .unionAll(garbage)
        .unionAll(blocked)
        .unionAll(moji)
        .unionAll(robots)
        .unionAll(nfc)
        .unionAll(badwords)
        .unionAll(homoglyph)
    )


@query(
    "q41_repetition_quality",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w FROM documents),
    c AS (SELECT doc_id, unnest(w) tok FROM t),
    g AS (SELECT doc_id, tok, count(*) cnt FROM c GROUP BY doc_id, tok),
    s AS (SELECT doc_id,
                 cast(sum(cnt) AS BIGINT)  n_tokens,
                 cast(count(*) AS BIGINT)  n_distinct,
                 cast(max(cnt) AS BIGINT)  top_cnt,
                 cast(sum(cnt * cnt) AS BIGINT) s2
          FROM g GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) bgr
           FROM t),
    tb AS (SELECT doc_id, cast(max(cnt2) AS BIGINT) top_bg_cnt
           FROM (SELECT doc_id, bgr, count(*) cnt2 FROM bg GROUP BY doc_id, bgr)
           GROUP BY doc_id),
    tg AS (SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tgr
           FROM t, unnest(range(1, len(w) - 1)) AS u(i)),
    dup AS (SELECT doc_id, tgr
            FROM (SELECT doc_id, tgr, count(*) cc FROM tg GROUP BY doc_id, tgr)
            WHERE cc > 1),
    cov AS (SELECT DISTINCT g2.doc_id, g2.pos + j AS idx
            FROM tg g2 JOIN dup USING (doc_id, tgr), unnest(range(0, 3)) AS v(j)),
    cn AS (SELECT doc_id, cast(count(*) AS BIGINT) cov_words FROM cov GROUP BY doc_id)
    SELECT s.doc_id, n_tokens,
           round(1 - n_distinct / cast(n_tokens AS DOUBLE), 6)             AS dup_word_frac,
           round(top_cnt / cast(n_tokens AS DOUBLE), 6)                    AS top_word_frac,
           round(coalesce(top_bg_cnt, 0) * 2 / cast(n_tokens AS DOUBLE), 6)
                                                                           AS top_bigram_frac,
           round(coalesce(cov_words, 0) / cast(n_tokens AS DOUBLE), 6)     AS dup_trigram_frac,
           -- Yule's K lexical diversity (Yule 1944): 1e4*(S2-N)/N^2 in
           -- micro-units — S2 and N are exact integers, so the single
           -- division is the only float op (engine-portable)
           cast(round(10000000000.0 * (s2 - n_tokens)
                / (n_tokens * n_tokens), 0) AS BIGINT)                     AS yule_k_micro,
           CASE WHEN top_cnt / cast(n_tokens AS DOUBLE) <= 0.125
                 AND coalesce(top_bg_cnt, 0) * 2 / cast(n_tokens AS DOUBLE) <= 0.20
                 AND coalesce(cov_words, 0) / cast(n_tokens AS DOUBLE) <= 0.18
                THEN 1 ELSE 0 END                                          AS keep
    FROM s LEFT JOIN tb USING (doc_id) LEFT JOIN cn USING (doc_id)
    """,
)
def q41_repetition_quality(spark, sf_dir):
    """Gopher repetition battery (Rae et al. 2021 §A1.1, public):
    duplicate-word fraction, top-word fraction, top-bigram fraction
    (word slots in occurrences of the most frequent 2-gram) and
    duplicate-trigram fraction (word positions covered by any 3-gram
    occurring more than once — exact coverage, no double counting, the
    q16-substring position-marking trick), plus Yule's K lexical
    diversity (Yule 1944: 1e4·(S2−N)/N² with S2 = Σ per-word count²,
    in micro-units — round 5, thirteenth pass; repetition's classic
    complement, integer-exact up to one division) and the combined keep
    decision at the 12.5% / 20% / 18% thresholds (the paper's top-2-gram
    and dup-3-gram limits). (The published rules are char fractions over
    lines/paragraphs; the synthetic corpus has no line structure, so the
    same statistics are computed at word granularity.)

    Scale: n-grams come from the shuffle-free arrays_zip construction
    (no Window); then keyed aggregations with map-side partial agg on
    near-unique (doc_id, gram) keys, one duplicated-gram semi-join back
    to positions, and a distinct over covered positions — every shuffle
    key is doc-local so nothing skews. No Python anywhere."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", _toks_col().alias("w"))
    nw = F.size("w")
    g = (
        base.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    s = g.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    bg = (
        base.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.col("w").alias("t0"),
                    F.slice("w", 2, F.greatest(nw - 1, F.lit(0))).alias("t1"),
                )
            ).alias("sh"),
        )
        .filter(F.col("sh.t1").isNotNull())
        .select("doc_id", F.concat_ws(" ", "sh.t0", "sh.t1").alias("bgr"))
    )
    tb = (
        bg.groupBy("doc_id", "bgr")
        .agg(F.count("*").alias("cnt2"))
        .groupBy("doc_id")
        .agg(F.max("cnt2").cast("long").alias("top_bg_cnt"))
    )
    tg = (
        base.select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    F.col("w").alias("t0"),
                    F.slice("w", 2, F.greatest(nw - 1, F.lit(0))).alias("t1"),
                    F.slice("w", 3, F.greatest(nw - 2, F.lit(0))).alias("t2"),
                )
            ).alias("pos", "sh"),
        )
        .filter(F.col("sh.t2").isNotNull())
        .select("doc_id", "pos", F.concat_ws(" ", "sh.t0", "sh.t1", "sh.t2").alias("tgr"))
    )
    dup = tg.groupBy("doc_id", "tgr").agg(F.count("*").alias("cc")).filter(F.col("cc") > 1)
    cov = (
        tg.join(dup.select("doc_id", "tgr"), ["doc_id", "tgr"])
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 2)).alias("idx"))
        .distinct()
    )
    cn = cov.groupBy("doc_id").agg(F.count("*").cast("long").alias("cov_words"))

    nt = F.col("n_tokens").cast("double")
    r_top = F.col("top_cnt") / nt
    r_bg = F.coalesce(F.col("top_bg_cnt"), F.lit(0)) * 2 / nt
    r_tg = F.coalesce(F.col("cov_words"), F.lit(0)) / nt
    return (
        s.join(tb, "doc_id", "left")
        .join(cn, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(1 - F.col("n_distinct") / nt, 6).alias("dup_word_frac"),
            F.round(r_top, 6).alias("top_word_frac"),
            F.round(r_bg, 6).alias("top_bigram_frac"),
            F.round(r_tg, 6).alias("dup_trigram_frac"),
            # Yule's K (Yule 1944) in micro-units: S2 and N are exact
            # integers, the single division is the only float op
            F.round(
                F.lit(10000000000.0)
                * (F.col("s2") - F.col("n_tokens"))
                / (F.col("n_tokens") * F.col("n_tokens")),
                0,
            )
            .cast("long")
            .alias("yule_k_micro"),
            F.when((r_top <= 0.125) & (r_bg <= 0.20) & (r_tg <= 0.18), 1)
            .otherwise(0)
            .alias("keep"),
        )
    )


#: q44 part='kwic' probe term — mid-frequency vocab word, single
#: source of truth for the Spark arm and the oracle below
_KWIC_TERM = "customer"


@query(
    "q44_bigram_lm_topk",
    """
    WITH t AS (
      SELECT string_split_regex(lower(trim(text)), '\\s+') w FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) bg
      FROM t),
    wb AS (
      SELECT 'word' AS part, bg AS bigram, cast(count(*) AS BIGINT) AS cnt
      FROM g GROUP BY bg
      ORDER BY cnt DESC, bigram ASC
      LIMIT 20
    ),
    wf AS (
      SELECT w AS word, count(*) AS freq
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents)
      WHERE len(w) > 0 GROUP BY w),
    sy AS (
      SELECT freq,
             list_append(list_transform(range(1, len(word) + 1), i -> word[i]),
                         '</w>') AS syms
      FROM wf),
    pr AS (
      SELECT syms[i] || ' ' || syms[i+1] AS bigram, freq
      FROM sy, unnest(range(1, len(syms))) AS t(i)),
    cb AS (
      SELECT 'char_pair' AS part, bigram, cast(sum(freq) AS BIGINT) AS cnt
      FROM pr GROUP BY bigram
      ORDER BY cnt DESC, bigram ASC
      LIMIT 20
    ),
    -- BPE merge SEQUENCE (round 5): iterations 1-3 inlined as CTE
    -- chains. Each iteration = argmax pair (cnt desc, left asc, right
    -- asc) + a greedy left-to-right merge rewrite. The rewrite uses the
    -- token-wrapped string form: every symbol wrapped in chr(31) on
    -- BOTH sides, so replace('<U>l<U><U>r<U>' -> '<U>lr<U>') is exactly
    -- the fold's greedy non-overlapping scan (consecutive matches do
    -- not share delimiter chars; a symbol that merely ends in l or
    -- starts with r cannot match). chr(31) never occurs in corpus
    -- words (test-pinned, tests/test_bpe.py).
    sy0 AS (
      SELECT freq,
             list_aggregate(list_transform(syms, s -> chr(31) || s || chr(31)),
                            'string_agg', '') AS s
      FROM sy),
    pcnt1 AS (
      SELECT syms[i] AS ml, syms[i+1] AS mr, cast(sum(freq) AS BIGINT) AS cnt
      FROM sy, unnest(range(1, len(syms))) AS t(i) GROUP BY ml, mr),
    b1 AS (SELECT * FROM pcnt1 ORDER BY cnt DESC, ml ASC, mr ASC LIMIT 1),
    sy1 AS (
      SELECT freq, replace(s, chr(31) || b1.ml || chr(31) || chr(31) || b1.mr || chr(31),
                              chr(31) || b1.ml || b1.mr || chr(31)) AS s
      FROM sy0, b1),
    tok1 AS (
      SELECT freq, string_split(substr(s, 2, len(s) - 2), chr(31) || chr(31)) AS syms
      FROM sy1),
    pcnt2 AS (
      SELECT syms[i] AS ml, syms[i+1] AS mr, cast(sum(freq) AS BIGINT) AS cnt
      FROM tok1, unnest(range(1, len(syms))) AS t(i) GROUP BY ml, mr),
    b2 AS (SELECT * FROM pcnt2 ORDER BY cnt DESC, ml ASC, mr ASC LIMIT 1),
    sy2 AS (
      SELECT freq, replace(s, chr(31) || b2.ml || chr(31) || chr(31) || b2.mr || chr(31),
                              chr(31) || b2.ml || b2.mr || chr(31)) AS s
      FROM sy1, b2),
    tok2 AS (
      SELECT freq, string_split(substr(s, 2, len(s) - 2), chr(31) || chr(31)) AS syms
      FROM sy2),
    pcnt3 AS (
      SELECT syms[i] AS ml, syms[i+1] AS mr, cast(sum(freq) AS BIGINT) AS cnt
      FROM tok2, unnest(range(1, len(syms))) AS t(i) GROUP BY ml, mr),
    b3 AS (SELECT * FROM pcnt3 ORDER BY cnt DESC, ml ASC, mr ASC LIMIT 1),
    -- unigram-LM seed vocabulary (Kudo ACL'18): every substring of
    -- length 1..4 of every distinct word, weighted by word frequency
    useed AS (
      SELECT 'uni_seed' AS part, piece AS bigram, cast(sum(freq) AS BIGINT) AS cnt
      FROM (
        SELECT freq,
               unnest(flatten(list_transform(range(1, len(word) + 1),
                      i -> list_transform(range(i, least(len(word), i + 3) + 1),
                           j -> word[i:j])))) AS piece
        FROM wf)
      GROUP BY piece ORDER BY cnt DESC, bigram ASC LIMIT 20
    ),
    -- Count-Min sketch (Cormode & Muthukrishnan): d=4 x w=512 integer
    -- counters over the word stream (built from wf — weighting by freq
    -- is the same arithmetic as per-occurrence increments), point
    -- estimate = min over the 4 counters each probe word routes to
    cmsc AS (
      SELECT i,
             ('0x' || substr(md5(cast(i AS varchar) || '|' || word), 1, 8))::BIGINT
               % 512 AS col,
             cast(sum(freq) AS BIGINT) AS cnt
      FROM wf, unnest([0, 1, 2, 3]) AS u(i)
      GROUP BY 1, 2),
    cmsp AS (
      SELECT word, i,
             ('0x' || substr(md5(cast(i AS varchar) || '|' || word), 1, 8))::BIGINT
               % 512 AS col
      FROM (SELECT word FROM wf ORDER BY freq DESC, word ASC LIMIT 20),
           unnest([0, 1, 2, 3]) AS u(i)),
    -- SymSpell correction (round 5, sixth pass): corrupt every trusted
    -- word by deleting its md5-chosen character (freq-1 near-words),
    -- then correct rare words back via symmetric-delete variant
    -- intersection + (freq desc, cand asc) argmax
    spw AS (SELECT word, freq FROM wf WHERE freq >= 8 AND len(word) >= 5),
    spc AS (
      SELECT substr(word, 1, p - 1) || substr(word, p + 1) AS word,
             cast(1 AS BIGINT) AS freq
      FROM (SELECT word,
                   cast(1 + ('0x' || substr(md5(word), 1, 8))::BIGINT % len(word)
                        AS INTEGER) AS p
            FROM spw)),
    spv AS (
      SELECT word, cast(sum(freq) AS BIGINT) AS freq
      FROM (SELECT word, cast(freq AS BIGINT) AS freq FROM wf
            UNION ALL SELECT * FROM spc)
      GROUP BY word),
    spt AS (SELECT word, freq FROM spv
            WHERE freq <= 2 AND len(word) BETWEEN 4 AND 12),
    spd AS (SELECT word AS cand, freq FROM spv
            WHERE freq >= 8 AND len(word) BETWEEN 3 AND 13),
    sptv AS (
      SELECT DISTINCT word, variant FROM (
        SELECT word,
               unnest(list_append(list_transform(range(1, len(word) + 1),
                      i -> substr(word, 1, i - 1) || substr(word, i + 1)),
                      word)) AS variant
        FROM spt)),
    spdv AS (
      SELECT DISTINCT cand, freq, variant FROM (
        SELECT cand, freq,
               unnest(list_append(list_transform(range(1, len(cand) + 1),
                      i -> substr(cand, 1, i - 1) || substr(cand, i + 1)),
                      cand)) AS variant
        FROM spd)),
    spcand AS (
      SELECT DISTINCT word, cand, freq
      FROM sptv JOIN spdv USING (variant) WHERE word <> cand),
    spbest AS (
      SELECT word, cand, freq,
             row_number() OVER (PARTITION BY word
                                ORDER BY freq DESC, cand ASC) AS rn
      FROM spcand),
    -- anchor-text aggregation (round 5, eighth pass): top-3 anchor
    -- strings per target host over the deterministic host/anchor
    -- scaffold (the q50 pagerank host arithmetic + one doc word)
    anc AS (
      SELECT 'h' || ((doc_id * 31 + 7) % 64) AS dst,
             (string_split_regex(lower(trim(text)), '\\s+'))[1 + doc_id % 3]
               AS anchor
      FROM documents),
    anck AS (
      SELECT dst, anchor, cast(count(*) AS BIGINT) AS cnt,
             row_number() OVER (PARTITION BY dst
                                ORDER BY count(*) DESC, anchor ASC) AS rk
      FROM anc GROUP BY dst, anchor),
    -- tf-idf keywords (round 5, ninth pass): top-3 most distinctive
    -- terms per doc, score = round(1e6 * tf * ln(N/df)) ranked as an
    -- INTEGER (the bm25 exactness convention) with term-asc tie-break
    tfq AS (
      SELECT doc_id, w AS term, cast(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents)
      WHERE len(w) > 0 GROUP BY doc_id, w),
    dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
    tsc AS (
      SELECT doc_id, term,
             cast(round(1000000.0 * tf * ln(n * 1.0 / df), 0) AS BIGINT) AS s
      FROM tfq JOIN dfq USING (term),
           (SELECT count(*) AS n FROM documents)),
    trk AS (
      SELECT doc_id, term, s,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, term ASC) AS rk
      FROM tsc),
    -- PMI collocations (round 5, tenth pass): pmi_micro =
    -- round(1e6 * ln((c_ab * N_w * N_w) / (N_bg * c_a * c_b))) as
    -- BIGINT — one fixed-order double ratio of exact integer counts
    -- (the tfidf exactness convention), c_ab >= 10, top-20 by
    -- (pmi desc, bigram asc)
    bgcq AS (SELECT bg AS bigram, cast(count(*) AS BIGINT) AS cnt
             FROM g GROUP BY bg),
    wfu AS (SELECT word, cast(freq AS double) AS c FROM wf),
    nwt AS (SELECT cast(sum(freq) AS double) AS n_w FROM wf),
    nbt AS (SELECT cast(sum(cnt) AS double) AS n_bg FROM bgcq),
    pmit AS (
      SELECT bigram,
             cast(round(1000000.0 * ln(cnt * n_w * n_w /
                  (n_bg * a.c * b.c)), 0) AS BIGINT) AS pmi
      FROM bgcq
      CROSS JOIN nwt CROSS JOIN nbt
      JOIN wfu a ON a.word = string_split(bigram, ' ')[1]
      JOIN wfu b ON b.word = string_split(bigram, ' ')[2]
      WHERE cnt >= 10),
    pmik AS (SELECT 'pmi' AS part, bigram, pmi AS cnt FROM pmit
             ORDER BY pmi DESC, bigram ASC LIMIT 20),
    -- Dunning LLR collocations (round 5, tenth pass): 2x2 contingency
    -- over the bigram stream with margins from the SAME bigram table
    -- (R_a = bigrams starting with a, C_b = ending with b, N = total);
    -- llr_micro = round(1e6 * 2 * sum k_ij ln(k_ij N / (R_i C_j))) in
    -- ONE fixed-order expression (left-assoc four-term sum) so both
    -- engines produce the identical double
    llra AS (SELECT string_split(bigram, ' ')[1] AS wa,
                    cast(sum(cnt) AS double) AS ra FROM bgcq GROUP BY 1),
    llrb AS (SELECT string_split(bigram, ' ')[2] AS wb,
                    cast(sum(cnt) AS double) AS cb FROM bgcq GROUP BY 1),
    llrn AS (SELECT cast(sum(cnt) AS double) AS n FROM bgcq),
    llrc AS (
      SELECT bigram, cast(cnt AS double) AS k11,
             cb - cast(cnt AS double) AS k12,
             ra - cast(cnt AS double) AS k21,
             n - ra - cb + cast(cnt AS double) AS k22,
             ra, cb, n
      FROM bgcq
      JOIN llra ON llra.wa = string_split(bigram, ' ')[1]
      JOIN llrb ON llrb.wb = string_split(bigram, ' ')[2]
      CROSS JOIN llrn
      WHERE cnt >= 10),
    llrt AS (
      SELECT bigram,
             cast(round(1000000.0 * (2.0 * (
               CASE WHEN k11 > 0 THEN k11 * ln(k11 * n / (ra * cb))
                    ELSE 0.0 END
               + CASE WHEN k12 > 0 THEN k12 * ln(k12 * n / ((n - ra) * cb))
                      ELSE 0.0 END
               + CASE WHEN k21 > 0 THEN k21 * ln(k21 * n / (ra * (n - cb)))
                      ELSE 0.0 END
               + CASE WHEN k22 > 0 THEN k22 * ln(k22 * n / ((n - ra) * (n - cb)))
                      ELSE 0.0 END)), 0) AS BIGINT) AS llr
      FROM llrc),
    llrk AS (SELECT 'llr' AS part, bigram, llr AS cnt FROM llrt
             ORDER BY llr DESC, bigram ASC LIMIT 20),
    -- KWIC concordance (round 5, tenth pass): every occurrence of the
    -- probe term with +-2 tokens of context, restated with 1-based
    -- list slices (w[a:b] inclusive; empty when b < a — and
    -- array_to_string of an empty list is NULL, hence the coalesce)
    kwt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM documents),
    kwh AS (SELECT doc_id, w, i AS pos
            FROM kwt, unnest(range(1, len(w) + 1)) AS u(i)
            WHERE w[i] = '<<KWIC_TERM>>'),
    kwik AS (
      SELECT 'kwic' AS part,
             cast(doc_id AS VARCHAR) || '>' ||
             coalesce(array_to_string(w[greatest(1, pos - 2):pos - 1], ' '), '') ||
             '[<<KWIC_TERM>>]' ||
             coalesce(array_to_string(w[pos + 1:least(len(w), pos + 2)], ' '), '')
               AS bigram,
             cast(pos AS BIGINT) AS cnt
      FROM kwh),
    -- TextRank extractive summarization (round 5): sentences stated
    -- INDEPENDENTLY by construction (the q46 'sentence' scaffold — one
    -- sentence per L = 5 + doc_id%4 words); edge weight = |distinct
    -- shared tokens|; two damped power iterations with scores carried
    -- as EXACT INTEGERS in micro-units (sums exact and
    -- order-independent; the edge division and the 0.85 multiply each
    -- round to integer immediately, and a true-value half is exactly
    -- representable so round-half-away agrees across engines); top-2
    -- per doc ranked on the INTEGER score, sidx-asc ties
    txw AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
            FROM documents),
    txs AS (
      SELECT doc_id, cast(i AS BIGINT) AS sidx,
             list_slice(ws, i * L + 1, (i + 1) * L) AS swc
      FROM (SELECT doc_id, ws, 5 + doc_id % 4 AS L FROM txw),
           unnest(range(0, cast(ceil(len(ws) / L) AS BIGINT))) AS u(i)),
    txt AS (
      SELECT DISTINCT doc_id, sidx, lower(tok) AS tok
      FROM (SELECT doc_id, sidx, unnest(swc) AS tok FROM txs)
      WHERE len(tok) > 0),
    txe AS (
      SELECT a.doc_id AS doc_id, a.sidx AS sa, b.sidx AS sb,
             cast(count(*) AS DOUBLE) AS w
      FROM txt a JOIN txt b
        ON a.doc_id = b.doc_id AND a.tok = b.tok AND a.sidx < b.sidx
      GROUP BY 1, 2, 3),
    txm AS (SELECT doc_id, sa AS dst, sb AS src, w FROM txe
            UNION ALL SELECT doc_id, sb AS dst, sa AS src, w FROM txe),
    txwj AS (SELECT doc_id, src, sum(w) AS wj FROM txm GROUP BY 1, 2),
    txn AS (SELECT doc_id, sidx FROM txs),
    tx1 AS (
      SELECT n.doc_id, n.sidx,
             round(150000.0 + 0.85 * coalesce(c.s, 0), 0) AS s
      FROM txn n LEFT JOIN (
        SELECT m.doc_id, m.dst AS sidx,
               sum(round(m.w * 1000000.0 / j.wj, 0)) AS s
        FROM txm m JOIN txwj j ON m.doc_id = j.doc_id AND m.src = j.src
        GROUP BY 1, 2) c
      ON n.doc_id = c.doc_id AND n.sidx = c.sidx),
    tx2 AS (
      SELECT n.doc_id, n.sidx,
             round(150000.0 + 0.85 * coalesce(c.s, 0), 0) AS s
      FROM txn n LEFT JOIN (
        SELECT m.doc_id, m.dst AS sidx, sum(round(m.w * t.s / j.wj, 0)) AS s
        FROM txm m
        JOIN txwj j ON m.doc_id = j.doc_id AND m.src = j.src
        JOIN tx1 t ON m.doc_id = t.doc_id AND m.src = t.sidx
        GROUP BY 1, 2) c
      ON n.doc_id = c.doc_id AND n.sidx = c.sidx),
    txr AS (
      SELECT doc_id, sidx, cast(s AS BIGINT) AS su,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY cast(s AS BIGINT) DESC, sidx ASC) AS rk
      FROM tx2),
    -- RAKE keyword phrases (Rose et al. 2010): candidate phrases are
    -- maximal token runs between stopword boundaries; word score =
    -- deg/freq in integer micro-units (deg = sum of host-phrase
    -- lengths over the word's occurrences, freq = occurrence count,
    -- both PER DOCUMENT); phrase score = sum of member-occurrence
    -- word scores (exact integer sum); top-1 per doc, phrase-asc ties
    rk0 AS (
      SELECT doc_id, i AS pos, w[i] AS tok
      FROM kwt, unnest(range(1, len(w) + 1)) AS u(i)
      WHERE len(w[i]) > 0),
    rk1 AS (
      SELECT doc_id, pos, tok,
             tok IN ('the', 'a', 'and', 'of', 'to', 'in') AS is_stop,
             sum(CASE WHEN tok IN ('the', 'a', 'and', 'of', 'to', 'in')
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS pid
      FROM rk0),
    rk2 AS (SELECT doc_id, pid, pos, tok FROM rk1 WHERE NOT is_stop),
    rkp AS (SELECT doc_id, pid, cast(count(*) AS BIGINT) AS plen
            FROM rk2 GROUP BY 1, 2),
    rkw AS (
      SELECT r.doc_id, r.tok, cast(sum(p.plen) AS BIGINT) AS deg,
             cast(count(*) AS BIGINT) AS freq
      FROM rk2 r JOIN rkp p ON r.doc_id = p.doc_id AND r.pid = p.pid
      GROUP BY 1, 2),
    rkws AS (
      SELECT doc_id, tok,
             cast(round(1000000.0 * deg / freq, 0) AS BIGINT) AS ws_u
      FROM rkw),
    rkph AS (
      SELECT r.doc_id, r.pid,
             string_agg(r.tok, ' ' ORDER BY r.pos) AS phrase,
             cast(sum(s.ws_u) AS BIGINT) AS score
      FROM rk2 r JOIN rkws s ON r.doc_id = s.doc_id AND r.tok = s.tok
      GROUP BY 1, 2),
    rkr AS (
      SELECT doc_id, phrase, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, phrase ASC) AS rk
      FROM rkph),
    -- burstiness (Church & Gale 1995 Poisson mixtures): cf/df in
    -- integer micro-units over the SAME per-(doc, term) tf table —
    -- cf and df are exact integers, one division total
    burstk AS (
      SELECT 'burst' AS part, term AS bigram,
             cast(round(1000000.0 * cf / df, 0) AS BIGINT) AS cnt
      FROM (SELECT term, cast(sum(tf) AS BIGINT) AS cf,
                   cast(count(*) AS BIGINT) AS df
            FROM tfq GROUP BY term)
      WHERE cf >= 10
      ORDER BY cnt DESC, bigram ASC LIMIT 20),
    -- zipf (round 5): rank-frequency slope over the top-100 terms —
    -- x/y in integer micro-log units, least-squares sums as exact
    -- BIGINTs, ONE double division at the end
    zipfr AS (
      SELECT word, rnk,
             cast(round(1000000.0 * ln(rnk)) AS BIGINT)  AS zx,
             cast(round(1000000.0 * ln(freq)) AS BIGINT) AS zy
      FROM (SELECT word, freq,
                   row_number() OVER (ORDER BY freq DESC, word ASC) AS rnk
            FROM wf)
      WHERE rnk <= 100),
    zipfs AS (
      SELECT count(*) AS zn,
             cast(sum(zx) AS BIGINT)      AS sx,
             cast(sum(zy) AS BIGINT)      AS sy,
             cast(sum(zx * zy) AS BIGINT) AS sxy,
             cast(sum(zx * zx) AS BIGINT) AS sxx
      FROM zipfr)
    SELECT * FROM wb UNION ALL SELECT * FROM cb
    UNION ALL SELECT 'merge1' AS part, ml || ' ' || mr AS bigram, cnt FROM b1
    UNION ALL SELECT 'merge2' AS part, ml || ' ' || mr AS bigram, cnt FROM b2
    UNION ALL SELECT 'merge3' AS part, ml || ' ' || mr AS bigram, cnt FROM b3
    UNION ALL SELECT * FROM useed
    UNION ALL
    SELECT 'cms' AS part, word AS bigram, cast(min(coalesce(c.cnt, 0)) AS BIGINT) AS cnt
    FROM cmsp p LEFT JOIN cmsc c ON p.i = c.i AND p.col = c.col
    GROUP BY word
    UNION ALL
    SELECT 'spell' AS part, word || '>' || cand AS bigram, freq AS cnt
    FROM spbest WHERE rn = 1
    UNION ALL
    SELECT 'anchor' AS part, dst || '>' || anchor AS bigram, cnt
    FROM anck WHERE rk <= 3
    UNION ALL
    SELECT 'tfidf' AS part, cast(doc_id AS VARCHAR) || '>' || term AS bigram,
           s AS cnt
    FROM trk WHERE rk <= 3
    UNION ALL
    SELECT * FROM pmik
    UNION ALL
    SELECT * FROM llrk
    UNION ALL
    SELECT * FROM kwik
    UNION ALL
    SELECT 'textrank' AS part,
           cast(doc_id AS VARCHAR) || '>' || cast(sidx AS VARCHAR) AS bigram,
           su AS cnt
    FROM txr WHERE rk <= 2
    UNION ALL
    SELECT 'rake' AS part,
           cast(doc_id AS VARCHAR) || '>' || phrase AS bigram,
           score AS cnt
    FROM rkr WHERE rk <= 1
    UNION ALL
    SELECT * FROM burstk
    UNION ALL
    SELECT 'zipf' AS part, word AS bigram, cast(rnk AS BIGINT) AS cnt FROM zipfr
    UNION ALL
    SELECT 'zipf' AS part, '__slope__' AS bigram,
           cast(round(1000000.0 * (zn * sxy - sx * sy)
                      / (zn * sxx - sx * sx)) AS BIGINT) AS cnt
    FROM zipfs
    """.replace("<<KWIC_TERM>>", _KWIC_TERM),
)
def q44_bigram_lm_topk(spark, sf_dir):
    """n-gram LM statistics family in ONE gate slot, `part`-discriminated:
      * part='word': corpus-level top-20 word bigrams by frequency (the
        classic training-data statistic), ties broken lexically so the
        cut is deterministic.
      * part='char_pair': top-20 adjacent-symbol pair counts over the
        initial (character + '</w>') symbolization of the DISTINCT-WORD
        frequency table — iteration 0 of BPE vocabulary learning
        (operators/bpe.py; the full merge loop is pytest-pinned against
        a pure-python reference, its per-iteration statistic is
        SQL-oracled here).
      * part='merge1'/'merge2'/'merge3' (round 5): the first three
        merges of the actual distributed merge LOOP (learn_bpe:
        pair-count agg -> 1-row argmax collect -> map-only greedy fold
        rewrite), so the driver verifies the merge SEQUENCE — each
        iteration's argmax depends on the previous iteration's rewrite
        being exactly the greedy left-to-right scan. The oracle inlines
        each iteration as chained CTEs whose rewrite is a
        delimiter-wrapped string replace (provably the same greedy
        non-overlapping scan — see the SQL comment); merges 4-12 stay
        pytest-pinned vs the pure-python reference (tests/test_bpe.py).
      * part='anchor' (round 5, eighth pass): anchor-text aggregation
        (operators/linkgraph.anchor_topk) — top-3 anchor strings per
        target host over a deterministic host/word scaffold; the HTML
        extraction side is pinned by tests/test_linkgraph.py.
      * part='tfidf' (round 5, ninth pass): per-doc tf-idf keyword
        extraction (operators/keywords.py) — each document's top-3
        most distinctive terms, round(1e6·tf·ln(N/df)) ranked as an
        integer with term-asc tie-break.
      * part='pmi' (round 5, tenth pass): top-20 collocations by
        pointwise mutual information (Church & Hanks CL'90,
        operators/corpus_stats.pmi_topk) over the same cached bigram +
        word-frequency tables; pmi_micro = round(1e6·ln((c_ab·N_w·N_w)
        / (N_bg·c_a·c_b))) as BIGINT, c_ab >= 10.
      * part='llr' (round 5, tenth pass): the same collocations
        re-ranked by Dunning's log-likelihood ratio (CL'93,
        operators/corpus_stats.llr_topk) — 2x2 contingency with
        margins from the same cached bigram table, llr_micro in one
        fixed-order four-term expression; the PMI-vs-LLR A/B real
        collocation pipelines run.
      * part='kwic' (round 5, tenth pass): keyword-in-context
        concordance (operators/keywords.kwic) — every occurrence of
        the probe term with ±2 tokens of context, map-only (explode
        fan-out = |occurrences|); bigram = doc>left[term]right,
        cnt = 1-based position.
      * part='textrank' (round 5, twelfth pass): TextRank extractive
        summarization (Mihalcea & Tarau EMNLP'04,
        operators/textrank.py) — per-doc sentence-similarity graph
        (edge = |distinct shared tokens|), two damped PageRank power
        iterations in the DSIR 6dp/micro-unit float discipline, top-2
        sentences per doc ranked on the INTEGER score with sidx-asc
        ties. The flat corpus carries no punctuation, so the q46
        'sentence' scaffold re-punctuates deterministically and the
        REAL operator runs end-to-end (regex sentence split -> graph
        -> iterations -> rank); the oracle restates sentences by
        construction and inlines both iterations as CTEs, so the
        driver verifies the power-iteration arithmetic itself.
        bigram = doc>sidx, cnt = score in micro-units.
      * part='rake' (round 5, twelfth pass): RAKE keyword-phrase
        extraction (Rose et al. 2010, operators/keywords.rake_topk) —
        candidate phrases = maximal token runs between stopword
        boundaries, word score = deg/freq in integer micro-units,
        phrase score = exact integer sum of member scores; top-1 per
        doc, phrase-asc ties. The degree/frequency statistics are
        per-document (RAKE is a single-document method), so the
        operator's only corpus shuffle is the phrase-id Window(doc_id)
        scan every later agg/join reuses.
      * part='burst' (round 5, thirteenth pass): term burstiness
        (Church & Gale 1995 Poisson mixtures; Katz 1996) — cf/df in
        integer micro-units, the mean within-document repetition that
        separates content words (bursty) from function words (even):
        top-20 by (burst desc, term asc), cf >= 10. One vocabulary-
        keyed agg over the per-(doc, term) tf table
        (operators/corpus_stats.burstiness_topk), map-side partials,
        TakeOrderedAndProject top-k.

    Scale: word bigrams come from the shuffle-free arrays_zip
    construction (each doc's adjacency lives in its own row — no window
    Exchange, see _shingles_df); char pairs aggregate over the
    Heaps-law-small distinct-word table. Both counts are one hash
    aggregation with map-side partial agg, and orderBy+limit compiles
    to TakeOrderedAndProject — per-partition top-20 heaps merged on the
    driver, never a global sort. At 100 TB the reduce side sees only
    (distinct bigrams), and the final collect is 40 rows."""
    from .operators.bpe import initial_symbols, pair_counts, word_freqs

    d = _t(spark, sf_dir, "documents")
    # the full bigram-count table now feeds TWO arms (word top-20 and
    # the tenth-pass PMI collocations) — cache it so the corpus
    # bigram-izes once; it is Heaps-law-small after the agg
    bgc = _cached_df(
        spark, sf_dir, "documents.parquet", "q44_bigram_counts",
        lambda: _ngram_rows(d, 2, "bigram")
        .select("bigram")  # doc_id pruned out of the scan by Catalyst
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("cnt")),
    )
    wb = (
        bgc.orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(20)
        .select(F.lit("word").alias("part"), "bigram", "cnt")
    )
    from .operators.bpe import learn_bpe

    # ONE corpus pass for the whole family: the cached word-frequency
    # table feeds the BPE symbol table (cb statistic + merge loop) AND
    # the unigram-LM seed statistic — without the caches the
    # corpus-sized word count runs three times
    wfd = _cached_df(
        spark, sf_dir, "documents.parquet", "bpe_wordfreqs",
        lambda: word_freqs(d),
    )
    sy0 = _cached_df(
        spark, sf_dir, "documents.parquet", "bpe_syms0",
        lambda: initial_symbols(wfd),
    )
    cb = (
        pair_counts(sy0)
        .select(F.concat_ws(" ", "left", "right").alias("bigram"), "cnt")
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(20)
        .select(F.lit("char_pair").alias("part"), "bigram", "cnt")
    )
    # min_count=1: the oracle's argmax has no early-stop, so neither may
    # the Spark arm (the default min_count=2 is a vocab-quality policy,
    # not part of the merge-sequence semantics under test)
    merges = learn_bpe(d, 3, min_count=1, symbols=sy0)
    mrows = spark.createDataFrame(
        [(f"merge{i + 1}", f"{l} {r}", c) for i, (l, r, c) in enumerate(merges)],
        "part string, bigram string, cnt long",
    )
    # part='uni_seed' (round 5, fourth pass): the unigram-LM tokenizer's
    # seed-vocabulary statistic (Kudo ACL'18 — operators/unigram_lm.py):
    # top-20 substrings (length 1..4) of the distinct-word table
    # weighted by word frequency — the candidate set EM prunes from.
    # One codegen substring-explode + agg over the SAME cached word
    # table; the EM loop itself is pinned by tests/test_unigram_lm.py
    # against an independent pure-python implementation (the BPE
    # merges-4-12 verification split).
    from .operators.unigram_lm import seed_pieces

    useed = (
        seed_pieces(wfd)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(20)
        .select(F.lit("uni_seed").alias("part"), F.col("piece").alias("bigram"), "cnt")
    )
    # part='cms' (round 5, fifth pass): Count-Min sketch point
    # estimates (operators/corpus_stats.cms_sketch/cms_query) for the
    # top-20 words — the bounded-memory heavy-hitter monitor. Both the
    # 2048 counters and the min-estimates are integers, so the GATE
    # verifies the whole sketch->query path (contrast the HLL arm,
    # whose float estimator stays pytest-side). Built from the SAME
    # cached word-frequency table (freq-weighted increments == per-
    # occurrence increments), so the family still scans the corpus
    # once; counter table broadcasts into the probe join.
    from .operators.corpus_stats import cms_query, cms_sketch

    counters = cms_sketch(wfd, F.col("word"), weight=F.col("freq"))
    top_words = (
        wfd.orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(20)
        .select("word")
    )
    cms = cms_query(counters, top_words, "word").select(
        F.lit("cms").alias("part"),
        F.col("word").alias("bigram"),
        F.col("est").alias("cnt"),
    )
    # part='spell' (round 5, sixth pass): SymSpell dictionary
    # correction (operators/spellfix.py) under the gate. The corpus
    # vocabulary is closed (31 words), so the arm corrupts it
    # deterministically first — every trusted word (freq >= 8,
    # len >= 5) loses its md5-chosen character, entering the vocab as
    # a freq-1 near-word — then the REAL operator (deletion-variant
    # broadcast equi-join + argmax window) corrects the rare words
    # back. The oracle restates corruption and correction by the same
    # string arithmetic, so candidate generation, the intersection
    # semantics AND the (freq desc, cand asc) argmax are all under the
    # driver hash. Same cached word table — still one corpus scan.
    from .operators.spellfix import corrupt_trusted, spell_corrections

    scaffold = corrupt_trusted(wfd)
    spell = spell_corrections(scaffold).select(
        F.lit("spell").alias("part"),
        F.concat_ws(">", "wrong", "corrected").alias("bigram"),
        F.col("freq").alias("cnt"),
    )
    # part='anchor' (round 5, eighth pass): anchor-text aggregation —
    # the top-k anchor strings per TARGET host (how the web names a
    # page; the off-page relevance signal next to q50's pagerank).
    # Scaffold: the q50 host arithmetic gives the target, a doc word
    # gives the anchor; the aggregation routes through the REAL
    # operator (linkgraph.anchor_topk: map-side-combined (dst, anchor)
    # count + per-host top-k window over the already-aggregated,
    # Heaps-law-small table).
    from .operators.linkgraph import anchor_topk

    anc = d.select(
        F.concat(F.lit("h"), ((F.col("doc_id") * 31 + 7) % 64).cast("string")).alias(
            "dst"
        ),
        F.element_at(
            _toks_col(), (F.lit(1) + F.col("doc_id") % 3).cast("int")
        ).alias("anchor"),
    )
    anchor = anchor_topk(anc, k=3).select(
        F.lit("anchor").alias("part"),
        F.concat_ws(">", "dst", "anchor").alias("bigram"),
        "cnt",
    )
    # part='tfidf' (round 5, ninth pass): per-doc tf-idf keywords
    # (operators/keywords.py) — top-3 most distinctive terms, scored
    # round(1e6 * tf * ln(N/df)) and ranked on the INTEGER score (the
    # bm25 micro-unit convention, so both engines rank identical
    # BIGINTs; ln matches because both are double ln on the same
    # integer ratio — the gate-green bm25 precedent). df broadcasts
    # back onto tf (vocab is Heaps-law-small); N rides as a broadcast
    # 1-row frame; per-doc top-k is skew-free (doc length bounds it).
    from .operators.keywords import tfidf_topk

    tfidf = tfidf_topk(d, _toks_col(), k=3).select(
        F.lit("tfidf").alias("part"),
        F.concat_ws(">", F.col("doc_id").cast("string"), "term").alias("bigram"),
        F.col("score_micro").alias("cnt"),
    )
    # part='pmi' (round 5, tenth pass): top-20 collocations by
    # pointwise mutual information (Church & Hanks CL'90,
    # operators/corpus_stats.pmi_topk) over the SAME cached bigram and
    # word-frequency tables — still one corpus tokenization for the
    # whole family. pmi_micro = round(1e6·ln((c_ab·N_w·N_w)/(N_bg·c_a·
    # c_b))) as BIGINT (one fixed-order double ratio, the tfidf
    # exactness convention); c_ab >= 10 floors rare-pair noise.
    from .operators.corpus_stats import pmi_topk

    pmi = pmi_topk(bgc, wfd, k=20, min_count=10).select(
        F.lit("pmi").alias("part"), "bigram", F.col("pmi_micro").alias("cnt")
    )
    # part='llr' (round 5, tenth pass): the same top-20 collocations
    # re-ranked by Dunning's log-likelihood ratio (CL'93,
    # operators/corpus_stats.llr_topk) — the A/B next to PMI that real
    # collocation pipelines run (LLR does not over-reward rare pairs).
    # Margins and N derive from the SAME cached bigram table; the two
    # margin joins broadcast.
    from .operators.corpus_stats import llr_topk

    llr = llr_topk(bgc, k=20, min_count=10).select(
        F.lit("llr").alias("part"), "bigram", F.col("llr_micro").alias("cnt")
    )
    # part='kwic' (round 5, tenth pass): keyword-in-context concordance
    # (operators/keywords.kwic) for the fixed probe term — every
    # occurrence with ±2 tokens of context, map-only (match positions
    # via transform+filter over the in-row token array, contexts via
    # slices of the same array; explode fan-out = |occurrences|). The
    # oracle restates positions and slices with 1-based list
    # arithmetic. bigram = doc>left[term]right, cnt = 1-based pos.
    from .operators.keywords import kwic

    kw = kwic(d, _toks_col(), _KWIC_TERM, window=2).select(
        F.lit("kwic").alias("part"),
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(">"),
            "left_ctx",
            F.lit("[" + _KWIC_TERM + "]"),
            "right_ctx",
        ).alias("bigram"),
        F.col("pos").alias("cnt"),
    )
    # part='textrank' (round 5, twelfth pass): extractive summarization
    # through the REAL operator end-to-end. The scaffold re-punctuates
    # the flat corpus exactly as q46's sentence arm (one sentence per
    # L = 5 + doc_id%4 words, [.!?] cycling on (doc_id + i) % 3), then
    # top_sentences regex-splits it back, builds the similarity graph
    # and runs both power iterations — so the driver hash covers the
    # splitter, the edge weights, the damping arithmetic AND the rank.
    from .operators.textrank import top_sentences

    _sL = (F.lit(5) + F.col("doc_id") % 4).cast("int")
    _tr_ws = F.split(F.trim(F.col("text")), r"\s+")
    _n_sent = F.ceil(F.size("ws") / _sL.cast("double")).cast("int")
    _punct_text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), _n_sent - 1),
            lambda i: F.concat(
                F.array_join(F.slice("ws", i * _sL + 1, _sL), " "),
                F.when((F.col("doc_id") + i) % 3 == 0, F.lit("."))
                .when((F.col("doc_id") + i) % 3 == 1, F.lit("!"))
                .otherwise(F.lit("?")),
            ),
        ),
        " ",
    )
    _tr_docs = d.select("doc_id", _tr_ws.alias("ws")).select(
        "doc_id", _punct_text.alias("text")
    )
    trank = top_sentences(_tr_docs, k=2).select(
        F.lit("textrank").alias("part"),
        F.concat_ws(
            ">", F.col("doc_id").cast("string"), F.col("sidx").cast("string")
        ).alias("bigram"),
        F.col("score_u").alias("cnt"),
    )
    # part='rake' (round 5, twelfth pass): RAKE keyword phrases through
    # the REAL operator — stopword-bounded phrase runs, per-doc
    # deg/freq word scores in micro-units, integer phrase sums, top-1
    # per doc. The corpus's function words ('the', 'a') are natural
    # boundaries, so no scaffold is needed.
    from .operators.keywords import rake_topk

    rake = rake_topk(d, _toks_col(), k=1).select(
        F.lit("rake").alias("part"),
        F.concat_ws(">", F.col("doc_id").cast("string"), "phrase").alias("bigram"),
        F.col("score_u").alias("cnt"),
    )
    # part='burst' (round 5, thirteenth pass): Church & Gale burstiness
    # — cf/df per term in micro-units from ONE vocabulary-keyed agg
    # over the per-(doc, term) tf table (operators/corpus_stats.
    # burstiness_topk); the datasheet complement to raw frequency.
    from .operators.corpus_stats import burstiness_topk
    from .operators.keywords import doc_term_freqs

    burst = burstiness_topk(doc_term_freqs(d, _toks_col()), k=20, min_cf=10).select(
        F.lit("burst").alias("part"),
        F.col("term").alias("bigram"),
        F.col("burst_micro").alias("cnt"),
    )
    # part='zipf' (round 5, fourteenth pass): Zipf rank-frequency slope
    # (Zipf 1949) over the top-100 terms of the SAME cached word table
    # — the one-number corpus-health statistic (natural language ≈ −1;
    # boilerplate floods flatten it, key-mash noise steepens it).
    # Least-squares over (ln rank, ln freq) in integer micro-log units:
    # x/y round to BIGINT per term, the five regression sums are EXACT
    # integer aggs (order-free), and the slope is ONE double division
    # of identical integer operands — the FS/entropy parity discipline.
    # Top-100 = TakeOrderedAndProject; the rank window runs on the
    # 100-row limited frame (bounded by construction). Per-term rows
    # pin the ranking; the '__slope__' row pins the regression.
    w_z = W.orderBy(F.col("freq").desc(), F.col("word").asc())
    ztop = (
        wfd.orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(100)
        .withColumn("rnk", F.row_number().over(w_z))
        .select(
            "word",
            "rnk",
            F.round(F.lit(1000000.0) * F.log(F.col("rnk").cast("double")), 0)
            .cast("long")
            .alias("zx"),
            F.round(F.lit(1000000.0) * F.log(F.col("freq").cast("double")), 0)
            .cast("long")
            .alias("zy"),
        )
    )
    zrows = ztop.select(
        F.lit("zipf").alias("part"),
        F.col("word").alias("bigram"),
        F.col("rnk").cast("long").alias("cnt"),
    )
    zslope = (
        ztop.agg(
            F.count("*").alias("zn"),
            F.sum("zx").alias("sx"),
            F.sum("zy").alias("sy"),
            F.sum(F.col("zx") * F.col("zy")).alias("sxy"),
            F.sum(F.col("zx") * F.col("zx")).alias("sxx"),
        )
        .select(
            F.lit("zipf").alias("part"),
            F.lit("__slope__").alias("bigram"),
            F.round(
                F.lit(1000000.0)
                * (F.col("zn") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("zn") * F.col("sxx") - F.col("sx") * F.col("sx")),
                0,
            )
            .cast("long")
            .alias("cnt"),
        )
    )
    return (
        wb.unionAll(cb).unionAll(mrows).unionAll(useed).unionAll(cms)
        .unionAll(spell)
        .unionAll(anchor)
        .unionAll(tfidf)
        .unionAll(pmi)
        .unionAll(llr)
        .unionAll(kw)
        .unionAll(trank)
        .unionAll(rake)
        .unionAll(burst)
        .unionAll(zrows)
        .unionAll(zslope)
    )


@query(
    "q45_contamination",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) ng
      FROM t),
    b AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0)
    SELECT doc_id, cast(count(*) AS BIGINT) AS n_hits
    FROM g JOIN b USING (ng)
    GROUP BY doc_id
    """,
)
def q45_contamination(spark, sf_dir):
    """Benchmark-contamination detection: flag corpus documents sharing
    any 4-gram with the benchmark set (here: every 97th doc stands in
    for the eval benchmark; a real run would read the benchmark table).
    Output = (doc_id, number of distinct contaminated 4-grams) — the
    decontamination pass drops these docs before training.

    Scale: the benchmark n-gram set is tiny relative to the corpus
    (benchmarks are fixed-size; the corpus is 100 TB), so it is
    broadcast — the corpus side streams map-only through the hash join,
    then one groupBy(doc_id). distinct-per-doc n-grams bound the join
    fan-out per row; never doc x doc."""
    d = _t(spark, sf_dir, "documents")
    grams = _ngram_rows(d, 4, "ng").distinct()
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("ng").distinct()
    return (
        grams.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


_PACK_BUDGET = 512
#: chunk width for q46's part='chunk' arm — sized so the synthetic
#: corpus's ~54-word documents split into 2 chunks (non-vacuous)
_CHUNK_TOKENS = 32
#: q46 part='cdc' (content-defined chunking): trailing-gram width in
#: tokens and the boundary modulus — a boundary falls AFTER token i
#: when hash(tokens[i-K+1..i]) % MOD == 0, so expected chunk length is
#: ~MOD tokens and boundaries survive insertions/deletions elsewhere
#: in the document (the shift-resistance fixed-width chunking lacks)
_CDC_K = 3
_CDC_MOD = 8

#: TextTiling block width (tokens per side of each gap) and the minimum
#: local-minimum depth (integer cohesion units) for a topic boundary
_TILE_W = 8
_TILE_MIN_DEPTH = 2


@query(
    "q46_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
             cast(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM t),
    w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    ch AS (
      SELECT doc_id, i,
             list_slice(ws, i * {_CHUNK_TOKENS} + 1, (i + 1) * {_CHUNK_TOKENS}) AS wsc
      FROM w, unnest(range(0, cast(ceil(len(ws) / {_CHUNK_TOKENS}.0) AS BIGINT))) AS u(i)),
    -- content-defined chunking (round 5): boundary AFTER token i when
    -- the trailing {_CDC_K}-gram's hash % {_CDC_MOD} == 0 (range() is
    -- empty when len(ws) < {_CDC_K}, so short docs are one chunk); the
    -- only empty chunk possible is a trailing one (strictly increasing
    -- boundary list), filtered identically on both engines
    cdcb AS (
      SELECT doc_id, ws,
             list_filter(range({_CDC_K}, len(ws) + 1), i ->
               ('0x' || substr(md5(array_to_string(
                   ws[i - {_CDC_K - 1}:i], ' ')), 1, 8))::BIGINT
                 % {_CDC_MOD} = 0) AS bpos
      FROM w),
    cdcs AS (
      SELECT doc_id, ws,
             list_prepend(0, bpos) AS starts,
             list_append(bpos, len(ws)) AS ends
      FROM cdcb),
    cdc AS (
      SELECT doc_id, cast(j - 1 AS BIGINT) AS bin,
             cast(starts[j] AS BIGINT) AS off,
             ws[starts[j] + 1:ends[j]] AS wsc
      FROM cdcs, unnest(generate_series(1, len(starts))) AS u(j)
      WHERE ends[j] > starts[j])
    SELECT 'pack' AS part, doc_id, n_tokens, cum_before,
           cast(floor(cum_before / {_PACK_BUDGET}.0) AS BIGINT) AS bin,
           cast(NULL AS varchar) AS key
    FROM c
    UNION ALL
    SELECT 'chunk' AS part, doc_id, cast(len(wsc) AS BIGINT) AS n_tokens,
           cast(i * {_CHUNK_TOKENS} AS BIGINT) AS cum_before,
           cast(i AS BIGINT) AS bin,
           md5(array_to_string(wsc, ' ')) AS key
    FROM ch
    UNION ALL
    SELECT 'cdc' AS part, doc_id, cast(len(wsc) AS BIGINT) AS n_tokens,
           off AS cum_before, bin,
           md5(array_to_string(wsc, ' ')) AS key
    FROM cdc
    UNION ALL
    -- sentence: expected sentences stated INDEPENDENTLY by
    -- construction; the Spark side recovers them from the punctuated
    -- scaffold with the real regex splitter
    SELECT 'sentence' AS part, doc_id,
           cast(len(swc) AS BIGINT) AS n_tokens,
           cast(i * L AS BIGINT)    AS cum_before,
           cast(i AS BIGINT)        AS bin,
           md5(array_to_string(swc, ' ') ||
               CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
                    WHEN (doc_id + i) % 3 = 1 THEN '!'
                    ELSE '?' END) AS key
    FROM (
      SELECT doc_id, i, L, list_slice(ws, i * L + 1, (i + 1) * L) AS swc
      FROM (SELECT doc_id, ws, 5 + doc_id % 4 AS L FROM w),
           unnest(range(0, cast(ceil(len(ws) / L) AS BIGINT))) AS u(i))
    UNION ALL
    -- tile: TextTiling (Hearst CL'97) — gap cohesion every {_TILE_W}
    -- tokens as the INTEGER term-overlap product of the two adjacent
    -- {_TILE_W}-token blocks; boundaries at interior local minima with
    -- depth >= {_TILE_MIN_DEPTH}. range() bounds make short docs
    -- (K < 3 gaps) empty without a typed CASE.
    SELECT 'tile' AS part, doc_id,
           cast(r.depth AS BIGINT) AS n_tokens,
           cast(r.pos AS BIGINT)   AS cum_before,
           cast(r.j - 1 AS BIGINT) AS bin,
           md5(array_to_string(tk[r.pos + 1 : r.pos + {_TILE_W}], ' ')) AS key
    FROM (
      SELECT doc_id, tk,
             unnest(list_transform(range(1, len(bnds) + 1),
               j -> {{'j': j, 'pos': bnds[j].pos, 'depth': bnds[j].depth}})) AS r
      FROM (
        SELECT doc_id, tk,
               list_filter(list_transform(range(2, greatest(K, 2)),
                 i -> {{'pos': i * {_TILE_W},
                        'depth': sims[i-1] + sims[i+1] - 2 * sims[i],
                        'ok': sims[i] < sims[i-1] AND sims[i] <= sims[i+1]}}),
                 s -> s.ok AND s.depth >= {_TILE_MIN_DEPTH}) AS bnds
        FROM (
          SELECT doc_id, tk, K,
                 -- sum over x in L of |y in R : y = x| == sum_t
                 -- c_L(t)*c_R(t), the same exact-integer overlap
                 list_transform(range(1, CASE WHEN K >= 3 THEN K + 1 ELSE 1 END),
                   i -> cast(list_sum(list_transform(
                          tk[i*{_TILE_W} - {_TILE_W - 1} : i*{_TILE_W}],
                          x -> len(list_filter(
                                 tk[i*{_TILE_W} + 1 : i*{_TILE_W} + {_TILE_W}],
                                 y -> y = x)))) AS BIGINT))
                 AS sims
          FROM (SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS tk,
                       len(string_split_regex(trim(text), '\\s+'))
                         // {_TILE_W} - 1 AS K
                FROM documents))))
    """,
)
def q46_pack_sequences(spark, sf_dir):
    """Sequence shaping family in ONE gate slot, `part`-discriminated:
      * part='pack': sequence packing — assign documents (in doc_id
        order) to fixed token-budget bins via a global running token
        count, bin = floor(cum_tokens_before / budget).
      * part='chunk': the complement — split every document into
        consecutive <= _CHUNK_TOKENS-token chunks at token boundaries
        (the pre-packing step real pipelines run on docs longer than
        the context window). One row per chunk: bin = chunk index,
        cum_before = starting token offset, key = md5 of the chunk
        text (pinning the split byte-for-byte).
      * part='cdc' (round 5, thirteenth pass): content-defined
        chunking (Muthitacharoen et al. SOSP'01, LBFS) — boundaries
        where the trailing _CDC_K-gram's hash % _CDC_MOD == 0, so
        chunk frames depend only on local content and re-synchronize
        after edits (dedup-stable chunk keys, unlike fixed-width
        'chunk'). Same row shape; entirely in-row, zero exchanges.
      * part='tile' (round 5, fourteenth pass): TextTiling topic
        segmentation (Hearst CL'97) — integer gap-cohesion scores
        every _TILE_W tokens, boundaries at interior local minima with
        depth >= _TILE_MIN_DEPTH; the chunking rule that cuts at TOPIC
        SHIFTS. In-row like cdc; n_tokens carries the depth score.

    The pack oracle states a single global window; the Spark plan must
    NOT (that window would pull 10^12 rows through one partition).
    Same two-pass shape as q37:

      1. repartitionByRange(doc_id) — ordered, co-located ranges;
      2. per-partition running sum (window PARTITIONED by partition id);
      3. global offset = sum of earlier partitions' totals, a 16-row
        aggregate joined back broadcast.

    Deterministic wherever the range sampler draws boundaries: offsets
    come from actual partition totals and doc_id is unique. The chunk
    arm is pure map (explode bounded by doc_len / chunk_tokens) — it
    adds ZERO exchanges to the family plan."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    # materialized before the two consuming branches so both see the
    # same range boundaries / _pid assignment (round-3 ADVICE; same
    # pinning as q37)
    from .operators.graph import iter_checkpoint

    parts = iter_checkpoint(
        t.repartitionByRange(16, F.col("doc_id").asc()).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w_local = W.partitionBy("_pid").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    local = parts.withColumn("_lcum", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0)))
    sizes = local.groupBy("_pid").agg(F.sum("n_tokens").alias("_n"))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    pack = (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            F.lit("pack").alias("part"),
            "doc_id",
            "n_tokens",
            (F.col("_lcum") + F.col("_off")).cast("long").alias("cum_before"),
            F.floor((F.col("_lcum") + F.col("_off")) / F.lit(_PACK_BUDGET)).cast("long").alias("bin"),
            F.lit(None).cast("string").alias("key"),
        )
    )
    # part='chunk': pure map — explode bounded by doc_len / chunk width
    w = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("ws"))
    chunk = (
        w.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, int(ceil(size(ws) / {_CHUNK_TOKENS}.0)) - 1), "
                    f"i -> struct(i AS cid, slice(ws, i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS}) AS wsc))"
                )
            ).alias("c"),
        )
        .select(
            F.lit("chunk").alias("part"),
            "doc_id",
            F.size("c.wsc").cast("long").alias("n_tokens"),
            (F.col("c.cid") * _CHUNK_TOKENS).cast("long").alias("cum_before"),
            F.col("c.cid").cast("long").alias("bin"),
            F.md5(F.concat_ws(" ", "c.wsc").cast("binary")).alias("key"),
        )
    )
    # part='cdc' (round 5, thirteenth pass): content-defined chunking
    # (Muthitacharoen et al. SOSP'01, the LBFS scheme storage dedup
    # systems standardized): a boundary falls AFTER token i when the
    # trailing _CDC_K-gram's hash % _CDC_MOD == 0, so chunk boundaries
    # depend only on LOCAL content — an insertion early in a document
    # shifts fixed-width chunk frames (part='chunk') but re-synchronizes
    # CDC at the next boundary, which is what makes CDC chunk keys
    # dedup-stable across document revisions. Entirely IN-ROW (token
    # array -> boundary positions -> start/end zips -> slices): pure
    # map, ZERO exchanges, zero Python, at any corpus size. The
    # sequence() guard mirrors the oracle's empty range() for docs
    # shorter than the gram.
    _cdc_grams = F.when(
        F.size("ws") >= _CDC_K,
        F.filter(
            F.sequence(F.lit(_CDC_K), F.size("ws")),
            lambda i: F.conv(
                F.substring(
                    F.md5(
                        F.array_join(
                            F.slice("ws", i - F.lit(_CDC_K - 1), F.lit(_CDC_K)), " "
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CDC_MOD
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    _cdc_chunks = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size("starts") - 1),
            lambda j: F.struct(
                j.cast("long").alias("bin"),
                F.element_at("starts", j + 1).cast("long").alias("off"),
                F.slice(
                    "ws",
                    F.element_at("starts", j + 1) + 1,
                    F.element_at("ends", j + 1) - F.element_at("starts", j + 1),
                ).alias("wsc"),
            ),
        ),
        lambda c: F.size(c["wsc"]) > 0,
    )
    cdc = (
        w.withColumn("bpos", _cdc_grams)
        .withColumn("starts", F.concat(F.array(F.lit(0)), F.col("bpos")))
        .withColumn("ends", F.concat(F.col("bpos"), F.array(F.size("ws"))))
        .select("doc_id", "ws", F.explode(_cdc_chunks).alias("c"))
        .select(
            F.lit("cdc").alias("part"),
            "doc_id",
            F.size("c.wsc").cast("long").alias("n_tokens"),
            F.col("c.off").alias("cum_before"),
            F.col("c.bin").alias("bin"),
            F.md5(F.concat_ws(" ", "c.wsc").cast("binary")).alias("key"),
        )
    )
    # part='sentence' (round 5, fifth pass): sentence segmentation
    # (functions.split_sentences) — the boundary-aware pre-chunking
    # step. The flat word corpus carries no punctuation, so the q40
    # scaffold pattern applies: re-punctuate deterministically (one
    # sentence per L = 5 + doc_id%4 words, terminal [.!?] cycling on
    # (doc_id + i) % 3), run the REAL regex splitter over the
    # punctuated text, and pin every recovered sentence's md5 against
    # the oracle's independent by-construction statement. n_tokens =
    # words in the sentence, cum_before = starting word offset,
    # bin = sentence index. Pure map (explode bounded by sentence
    # count) — zero added exchanges, zero Python.
    from pmocr_spark.functions import split_sentences

    sL = (F.lit(5) + F.col("doc_id") % 4).cast("int")
    n_sent = F.ceil(F.size("ws") / sL.cast("double")).cast("int")
    punct_text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_sent - 1),
            lambda i: F.concat(
                F.array_join(F.slice("ws", i * sL + 1, sL), " "),
                F.when((F.col("doc_id") + i) % 3 == 0, F.lit("."))
                .when((F.col("doc_id") + i) % 3 == 1, F.lit("!"))
                .otherwise(F.lit("?")),
            ),
        ),
        " ",
    )
    sent = (
        w.select("doc_id", sL.alias("_L"), punct_text.alias("_ptext"))
        .select(
            "doc_id",
            "_L",
            F.posexplode(split_sentences(F.col("_ptext"))).alias("i", "s"),
        )
        .select(
            F.lit("sentence").alias("part"),
            "doc_id",
            F.size(F.split("s", " ")).cast("long").alias("n_tokens"),
            (F.col("i") * F.col("_L")).cast("long").alias("cum_before"),
            F.col("i").cast("long").alias("bin"),
            F.md5(F.col("s").cast("binary")).alias("key"),
        )
    )
    # part='tile' (round 5): TextTiling topic segmentation (Hearst,
    # CL 1997) — the chunking rule that cuts at TOPIC SHIFTS instead of
    # fixed widths or hash boundaries. Gap cohesion every _TILE_W
    # tokens = the term-overlap PRODUCT of the two adjacent _TILE_W
    # blocks (Σ_t c_L(t)·c_R(t) — the cosine numerator; blocks are
    # fixed-width so the norm is near-constant and the score stays an
    # EXACT INTEGER, the engine-portability discipline), boundaries at
    # interior local minima (strict left / non-strict right tie rule)
    # with depth = s_{i-1} + s_{i+1} - 2·s_i >= _TILE_MIN_DEPTH.
    # ENTIRELY IN-ROW (token array -> sims array -> boundary structs ->
    # posexplode bounded by boundary count): pure map, ZERO exchanges,
    # zero Python at any corpus size. n_tokens = depth, cum_before =
    # boundary token position, key = md5 of the _TILE_W tokens after
    # the cut (pins the slice arithmetic).
    _tw = _TILE_W
    Kc = (F.floor(F.size("ws") / _tw) - 1).cast("int")

    def _tile_sim(i):
        # Σ_{x∈L} |{y∈R : y=x}| == Σ_t c_L(t)·c_R(t): the same overlap
        # product, one w×w comparison pass (no distinct/double-filter)
        p = i * _tw
        left = F.slice("ws", p - _tw + 1, _tw)
        right = F.slice("ws", p + 1, _tw)
        return F.aggregate(
            F.transform(
                left, lambda x: F.size(F.filter(right, lambda y: y == x)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    sims_col = F.when(
        Kc >= 3, F.transform(F.sequence(F.lit(1), Kc), _tile_sim)
    ).otherwise(F.array().cast("array<long>"))

    def _bnds_of(s):
        # s is the LAMBDA-BOUND sims array: higher-order lambda args
        # evaluate once, so the six score references below cannot
        # re-inline the (expensive) sims expression — without this
        # let-binding, projection collapse duplicated sims per
        # reference and the arm ran ~30x slower at sf0.1
        def at(i):
            return F.get(s, i - 1)  # 1-based gap -> 0-based index

        return F.filter(
            F.transform(
                F.sequence(F.lit(2), Kc - 1),
                lambda i: F.struct(
                    (i * _tw).cast("long").alias("pos"),
                    (at(i - 1) + at(i + 1) - 2 * at(i)).alias("depth"),
                    ((at(i) < at(i - 1)) & (at(i) <= at(i + 1))).alias("ok"),
                ),
            ),
            lambda st: st["ok"] & (st["depth"] >= _TILE_MIN_DEPTH),
        )

    bnds_col = F.when(
        Kc >= 3, F.get(F.transform(F.array(sims_col), _bnds_of), 0)
    ).otherwise(
        F.array().cast("array<struct<pos:bigint,depth:bigint,ok:boolean>>")
    )
    tile = (
        w.withColumn("bnds", bnds_col)
        .select("doc_id", "ws", F.posexplode("bnds").alias("j", "b"))
        .select(
            F.lit("tile").alias("part"),
            "doc_id",
            F.col("b.depth").cast("long").alias("n_tokens"),
            F.col("b.pos").alias("cum_before"),
            F.col("j").cast("long").alias("bin"),
            F.md5(
                F.concat_ws(
                    " ", F.slice("ws", F.col("b.pos") + 1, _tw)
                ).cast("binary")
            ).alias("key"),
        )
    )
    return pack.unionAll(chunk).unionAll(cdc).unionAll(sent).unionAll(tile)


def _q47_minhash_arm(spark, sf_dir):
    """part='minhash': build the corpus's banded-MinHash index, probe
    the corpus against it, report each candidate pair with its
    shared-bucket count (the crude LSH confidence) — exactly the
    per-batch operation of the persisted-index flow (build once, probe
    each new batch, merge keepers), driven self-referentially so plain
    SQL can state the expected result.

    The probe side here is CORPUS-sized (the self-probe), so it takes
    probe_index's default non-broadcast path — the round-3 verdict's
    scale fix; forcing broadcast_probe=True on a corpus-sized side is
    the driver/executor OOM regime. Plan pinned on THIS arm by
    tests/test_plan_shape.py::test_q47_selfprobe_not_forced_broadcast
    (the pq arm legitimately broadcasts its query-sized sides)."""
    from .operators.dedup_index import build_index, probe_index

    d = _t(spark, sf_dir, "documents")
    index = build_index(d)
    hits = probe_index(d, index, new_bands=index)
    return (
        hits.select(
            F.least("doc_id", "dup_of").alias("id_a"),
            F.greatest("doc_id", "dup_of").alias("id_b"),
            F.col("n_bands").alias("n"),
        )
        .distinct()
        .select(F.lit("minhash").alias("part"), "id_a", "id_b", "n")
    )


_Q47_SCRATCH: set[str] = set()


def _q47_scratch_register(path: str) -> None:
    """Remember a q47 scratch index dir and remove it at process exit
    (the frame built over it is lazy, so removal any earlier would break
    the query; a hard kill still leaks, which overwrite-per-app bounds)."""
    if not _Q47_SCRATCH:
        import atexit
        import shutil

        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _Q47_SCRATCH]
        )
    _Q47_SCRATCH.add(path)


def _q47_pq_arm(spark, sf_dir):
    """part='pq' (round 5): the PERSISTED PQ index lifecycle under the
    gate — encode the corpus, write_pq_index (codes parquet + codebook
    JSON sidecar) to a scratch dir, read_pq_index back, and search over
    the LOADED codes with ADC tables built from the LOADED codebook,
    then exact-rerank the shortlist. Byte-exact round-trip of the
    sidecar doubles means the result must equal q21 part='pq' — the
    oracle is the same integer-ADC SQL (shared _PQ_ORACLE_CTES), so a
    lossy sidecar, misaligned codes, or a read-path geometry drift all
    surface as a gate hash mismatch. n = rank (1..5)."""
    import hashlib
    import os
    import tempfile

    from .operators.pq import (
        SHORTLIST,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
        pq_query_tables,
        read_pq_index,
        write_pq_index,
    )

    v = _norm_embeddings(spark, sf_dir)
    vn = v.select("vec_id", F.expr("transform(e, x -> x / nrm)").alias("en"))
    book = pq_codebook(vn)
    # scratch path keyed on (app, sf_dir): per-session rebuild, no
    # cross-session reuse (the gate must exercise a FRESH build+read).
    # The dir must OUTLIVE this function (the returned DataFrame reads
    # it lazily), so cleanup is registered at process exit — without it
    # every gate/bench session leaks one codes dir into /tmp forever.
    key = hashlib.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"pmocr_q47_pqindex_{key}")
    _q47_scratch_register(path)
    write_pq_index(pq_encode(vn.filter(F.col("vec_id") >= 10), book), book, path)
    codes, book_loaded, _meta = read_pq_index(spark, path)
    tables = pq_query_tables(
        vn.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "en"),
        book_loaded,
    )
    short = pq_adc_topk(codes, tables, topk=SHORTLIST).select("query_id", "neighbor_id")
    # exact rerank over the shortlist (q21 part='pq' discipline)
    return _ann_rerank(_ann_sims(spark, sf_dir), short, "pq").select(
        "part",
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.col("rk").alias("n"),
    )


def _q47_bloom_arm(spark, sf_dir):
    """part='bloom' (round 5, fifth pass): the Bloom-filter membership
    PRE-FILTER lifecycle under the gate (operators/bloom.py) — the
    cheap first tier of incremental dedup. Members = every even doc_id's
    content hash; build the set-bits table, write_bloom_index (positions
    parquet + (m,k) geometry sidecar) to a scratch dir, read_bloom_index
    back, then probe the WHOLE corpus through the broadcast path (k
    broadcast-hash joins, zero probe-side exchanges). id_a = doc_id,
    id_b = set positions found (0..k), n = maybe_member verdict.
    Verdicts — including any false positives — are deterministic (md5
    positions), so the oracle states the exact same arithmetic in SQL;
    a lossy sidecar, geometry drift, or a broken read path all surface
    as a gate hash mismatch. No false negative is possible by
    construction, and the oracle proves it: every even doc_id row must
    carry n = 1."""
    import hashlib
    import os
    import tempfile

    from .operators.bloom import (
        BLOOM_K,
        BLOOM_M,
        bloom_build,
        bloom_probe,
        read_bloom_index,
        write_bloom_index,
    )

    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.col("text").cast("binary"))
    members = d.filter(F.col("doc_id") % 2 == 0).select(key.alias("key"))
    skey = hashlib.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"pmocr_q47_bloom_{skey}")
    _q47_scratch_register(path)
    write_bloom_index(bloom_build(members), path, m=BLOOM_M, k=BLOOM_K)
    bits, meta = read_bloom_index(spark, path)
    probed = bloom_probe(
        d.select("doc_id", key.alias("key")),
        bits,
        m=meta["m"],
        k=meta["k"],
    )
    return probed.select(
        F.lit("bloom").alias("part"),
        F.col("doc_id").alias("id_a"),
        F.col("n_set").alias("id_b"),
        F.col("maybe_member").alias("n"),
    )


def _bloom_oracle_ctes() -> str:
    """q47 bloom-arm oracle CTEs — the same md5-position arithmetic as
    operators/bloom.bloom_positions, stated independently in DuckDB,
    with (m, k) read from the operator constants so the two sides can
    never drift."""
    from .operators.bloom import BLOOM_K, BLOOM_M

    ks = ", ".join(str(i) for i in range(BLOOM_K))
    pos = (
        "('0x' || substr(md5(cast(i AS varchar) || '|' || md5(text)), 1, 8))::BIGINT"
        f" % {BLOOM_M}"
    )
    return f"""
    , bbits AS (
      SELECT DISTINCT {pos} AS pos
      FROM documents, unnest([{ks}]) AS u(i)
      WHERE doc_id % 2 = 0
    ),
    bprobe AS (
      SELECT doc_id, {pos} AS pos
      FROM documents, unnest([{ks}]) AS u(i)
    )
"""


def _bloom_oracle_select() -> str:
    """The q47 bloom arm's UNION ALL branch (pairs with
    _bloom_oracle_ctes): per probed doc, set positions found and the
    maybe-member verdict; k from the operator constant."""
    from .operators.bloom import BLOOM_K

    return f"""
    UNION ALL
    SELECT 'bloom' AS part, p.doc_id AS id_a,
           cast(count(b.pos) AS BIGINT) AS id_b,
           cast(CASE WHEN count(b.pos) = {BLOOM_K} THEN 1 ELSE 0 END AS BIGINT) AS n
    FROM bprobe p LEFT JOIN bbits b ON p.pos = b.pos
    GROUP BY p.doc_id
"""


def _varint_len_sql(col: str) -> str:
    """DuckDB restatement of operators/postings.varint_len: descending
    CASE ladder over the 7-bit group thresholds."""
    clauses = " ".join(
        f"WHEN {col} >= {1 << (7 * k)} THEN {k + 1}" for k in range(8, 0, -1)
    )
    return f"CASE {clauses} ELSE 1 END"


@query(
    "q47_dedup_index_probe",
    _ANN_ORACLE_COMMON
    + _PQ_ORACLE_CTES
    + _bloom_oracle_ctes()
    + f"""
    , sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE len({_TOKS_SQL}) >= 3
    ),
    sig AS (SELECT doc_id, {_minhash_exprs_sql()} FROM sh GROUP BY doc_id),
    bands0 AS (
      SELECT doc_id, 0 AS band, md5('0|' || mh0 || mh1 || mh2)  AS key FROM sig UNION ALL
      SELECT doc_id, 1,         md5('1|' || mh3 || mh4 || mh5)         FROM sig UNION ALL
      SELECT doc_id, 2,         md5('2|' || mh6 || mh7 || mh8)         FROM sig UNION ALL
      SELECT doc_id, 3,         md5('3|' || mh9 || mh10 || mh11)       FROM sig
    ),
    bands AS (
      SELECT * FROM bands0 b0 WHERE NOT EXISTS (
        SELECT 1 FROM bands0 g WHERE g.band = b0.band AND g.key = b0.key
        GROUP BY g.band, g.key HAVING count(*) > {_MAX_BAND_BUCKET})
    ),
    wtok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents),
    wkg AS (
      SELECT doc_id, cast(i - 1 AS BIGINT) AS pos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(ws, i, i + {_WIN_K - 1}), ' ')), 1, 7))::BIGINT AS fp
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - {_WIN_K - 1})) AS i
            FROM wtok)),
    wnk AS (SELECT doc_id, max(pos) AS mp FROM wkg GROUP BY doc_id),
    wwin AS (
      SELECT doc_id, unnest(generate_series(0, mp - {_WIN_W - 1})) AS i
      FROM wnk WHERE mp >= {_WIN_W - 1}),
    wcand AS (
      SELECT w.doc_id, k.pos, k.fp,
             row_number() OVER (PARTITION BY w.doc_id, w.i
                                ORDER BY k.fp ASC, k.pos DESC) AS rn
      FROM wwin w JOIN wkg k
        ON k.doc_id = w.doc_id AND k.pos BETWEEN w.i AND w.i + {_WIN_W - 1}),
    wsel AS (SELECT DISTINCT doc_id, fp FROM wcand WHERE rn = 1)
    SELECT 'minhash' AS part, a.doc_id AS id_a, b.doc_id AS id_b,
           cast(count(*) AS BIGINT)    AS n
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    UNION ALL
    SELECT 'pq' AS part, query_id AS id_a, neighbor_id AS id_b, rk AS n FROM (
      SELECT ss.query_id, ss.neighbor_id,
             row_number() OVER (PARTITION BY ss.query_id
                                ORDER BY ss.sim DESC, ss.neighbor_id) AS rk
      FROM sims ss JOIN pqshort USING (query_id, neighbor_id)) WHERE rk <= 5
    UNION ALL
    -- winnow: persisted MOSS-index self-probe — the q26 selection
    -- restated (same k/w, 7-hex md5 hash, rightmost ties), pairs =
    -- distinct-fp equi-join with the >= 2 floor
    SELECT 'winnow' AS part, a.doc_id AS id_a, b.doc_id AS id_b,
           cast(count(*) AS BIGINT) AS n
    FROM (SELECT DISTINCT doc_id, fp FROM wsel) a
    JOIN (SELECT DISTINCT doc_id, fp FROM wsel) b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    UNION ALL
    -- postings: block-partitioned delta-gap + LEB128 size arithmetic
    -- (operators/postings.py) — gap relative to the previous posting
    -- inside the same (term, 2^16-wide doc-id block), block base - 1
    -- for each block's first posting; byte length = one per started
    -- 7-bit group
    SELECT 'postings' AS part,
           ('0x' || substr(md5(term), 1, 15))::BIGINT AS id_a,
           cast(sum({_varint_len_sql('gap')}) AS BIGINT) AS id_b,
           count(*) AS n
    FROM (
      SELECT term,
             doc_id - coalesce(
               lag(doc_id) OVER (PARTITION BY term, doc_id // 65536
                                 ORDER BY doc_id),
               (doc_id // 65536) * 65536 - 1) AS gap
      FROM (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents) WHERE len(term) > 0)
    GROUP BY term
    """
    + _bloom_oracle_select(),
)
def q47_dedup_index_probe(spark, sf_dir):
    """Persisted-INDEX probe family in ONE gate slot,
    `part`-discriminated: the index artifacts this engine persists
    (the banded-MinHash dedup index, the PQ ANN index, the Bloom
    membership pre-filter, and the compressed posting layout), each
    built fresh, round-tripped through storage where applicable, and
    probed — see _q47_minhash_arm / _q47_pq_arm / _q47_bloom_arm /
    _q47_postings_arm for each arm's contract."""
    return (
        _q47_minhash_arm(spark, sf_dir)
        .unionAll(_q47_pq_arm(spark, sf_dir))
        .unionAll(_q47_bloom_arm(spark, sf_dir))
        .unionAll(_q47_postings_arm(spark, sf_dir))
        .unionAll(_q47_winnow_arm(spark, sf_dir))
    )


def _q47_winnow_arm(spark, sf_dir):
    """part='winnow' (round 5): the persisted MOSS fingerprint index
    lifecycle under the gate — the artifact `--winnow-dedup` writes
    (.fps parquet). Build winnow_fingerprints fresh, write to a
    scratch dir, READ BACK, and self-probe via
    shared_fingerprint_pairs: a lossy write, schema drift, or a broken
    read path all surface as a gate hash mismatch (the
    bloom/pq-arm discipline). id_a/id_b = pair, n = distinct shared
    fingerprints (>= 2, the CLI default floor)."""
    import hashlib
    import os
    import tempfile

    from .operators.winnow import shared_fingerprint_pairs, winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    skey = hashlib.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}|winnow".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"pmocr_q47_winnow_{skey}")
    _q47_scratch_register(path)
    winnow_fingerprints(d).write.mode("overwrite").parquet(path)
    fps = spark.read.parquet(path)
    return shared_fingerprint_pairs(fps, min_shared=2).select(
        F.lit("winnow").alias("part"),
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("n_shared").alias("n"),
    )


def _q47_postings_arm(spark, sf_dir):
    """part='postings' (round 5): the compressed posting-list LAYOUT
    under the gate (operators/postings.py) — block-partitioned delta
    gaps + LEB128 varint sizes, the byte layout the persisted text
    index (operators/bm25.write_text_index) stores postings in at
    scale. The gate verifies the SIZE ARITHMETIC end-to-end (gap
    derivation including block bases, the varint ladder, the per-term
    reduction); the physical encode∘decode = identity is pytest-pinned
    (tests/test_postings.py), so together they pin layout and bytes.
    id_a = term hash (the established md5-prefix bigint lift), id_b =
    exact compressed payload bytes, n = postings count."""
    from .operators.postings import compressed_stats

    d = _t(spark, sf_dir, "documents")
    return compressed_stats(d).select(
        F.lit("postings").alias("part"),
        F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long").alias("id_a"),
        F.col("n_bytes").alias("id_b"),
        F.col("n_postings").alias("n"),
    )
