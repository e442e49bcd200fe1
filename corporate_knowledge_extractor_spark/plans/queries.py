"""Named queries for the driver contract (__spark_entry__.py).

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
ANSI-SQL oracle string DuckDB runs over the same parquet tables. Every
operator family from SURVEY.md §2 that is SQL-expressible appears here;
non-SQL-expressible ops (the KG pipeline itself, MinHash linking, CC,
ANN) are registered with ``sql=None`` → the driver records a rows-only
check and the pytest P/R harness covers their correctness instead.

Parity rules (learned the hard way, documented for future rounds):
  * every computed column aliased identically on both sides;
  * floats rounded to 4 decimals on both sides;
  * integer sums cast to BIGINT in DuckDB (else HUGEINT) — Spark's
    sum(long) is long already;
  * timestamps never returned raw — epoch seconds via unix_timestamp /
    CAST(floor(epoch(ts)) AS BIGINT), with the Spark session pinned to UTC;
  * deterministic tie-breaking on every window rank (add id columns to
    ORDER BY).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.functions import rules
from corporate_knowledge_extractor_spark.operators import dedup, similarity, textstats
from corporate_knowledge_extractor_spark.operators.postprocess import category_col
from corporate_knowledge_extractor_spark.sources.sinks import load_testdata


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    # DuckDB oracle; None -> rows-only check. May be a zero-arg callable
    # resolved at harness time (resolve_sql) — the kg-family oracles
    # materialize twin-corpus parquet as a side effect, which must not
    # run at module import (it cost multi-second generation per import
    # and failed every registered query on an unwritable tempdir).
    sql: str | Callable[[], str] | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def resolve_sql(q: Query) -> str | None:
    """Late-bind a query's oracle SQL (generating twin corpora only when
    a harness actually asks for oracles)."""
    return q.sql() if callable(q.sql) else q.sql


def query(name: str, sql: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = Query(fn=fn, sql=sql, doc=doc)
        return fn

    return deco


def _t(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    """``fanout=True`` marks consumers whose per-row compute dominates
    their first exchange (text scoring, vector math): the loader then
    repartitions the single-row-group driver file to full parallelism
    (guide §2.5 unsplittable input; rationale in sinks.load_testdata)."""
    return load_testdata(spark, sf_dir, name, fanout=fanout)


# =====================================================================
# Aggregations (SURVEY.md §2.4)
# =====================================================================


@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                   AS sum_qty,
           round(sum(l_extendedprice), 4)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)           AS sum_disc_price,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape; reference analogue: quality-metrics aggregates A8",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "title_merge",
    """
    SELECT p_brand,
           count(*)                                                 AS n_parts,
           first(p_name ORDER BY length(p_name) DESC, p_name ASC)   AS richest_name,
           round(avg(p_retailprice), 4)                             AS avg_price,
           array_to_string(list_sort(list_distinct(list(p_type))), '|') AS all_types
    FROM part GROUP BY p_brand
    """,
    doc="A2 normalized-key merge: max-by-length field pick + set-union agg "
    "(post_processor.py:102-175)",
)
def title_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    richest_key = F.struct(
        (-F.length("p_name")).alias("nl"), F.col("p_name").alias("n")
    )
    return part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min_by("p_name", richest_key).alias("richest_name"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        F.array_join(F.array_sort(F.collect_set("p_type")), "|").alias("all_types"),
    )


@query(
    "runlength_sessions",
    """
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), grouped AS (
      SELECT user_id, event_type,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
      FROM flagged
    )
    SELECT user_id, grp, event_type, count(*) AS run_length
    FROM grouped GROUP BY user_id, grp, event_type
    """,
    doc="A1 run-length group-by (consecutive same value), "
    "src/synthesize/base.py:31-51",
)
def runlength_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("grp", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "grp", "event_type")
        .agg(F.count(F.lit(1)).alias("run_length"))
    )


def _category_score_sql(col: str, cat_keywords) -> str:
    return " + ".join(
        f"(CASE WHEN contains({col}, '{kw}') THEN 1 ELSE 0 END)"
        for kw in cat_keywords
    )


def _category_case_sql() -> str:
    """Strict-improvement scan parity (post_processor.py:189-199) over the
    s_<category> score columns: category i wins iff its score is
    positive, strictly beats all earlier categories, and is >= all later
    ones — the first category with the max positive score."""
    cases = []
    cats = [c for c, _ in rules.CATEGORY_KEYWORDS]
    for i, cat in enumerate(cats):
        conds = [f"s_{cat} > 0"]
        conds += [f"s_{c2} < s_{cat}" for c2 in cats[:i]]
        conds += [f"s_{c2} <= s_{cat}" for c2 in cats[i + 1 :]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{cat}'")
    return f"CASE {' '.join(cases)} ELSE '{rules.DEFAULT_CATEGORY}' END"


def _category_sql() -> str:
    scores = ",\n      ".join(
        f"({_category_score_sql('text', kws)}) AS s_{cat}"
        for cat, kws in rules.CATEGORY_KEYWORDS
    )
    return f"""
    WITH scored AS (
      SELECT doc_id,
      {scores}
      FROM documents
    ), labeled AS (
      SELECT doc_id,
             {_category_case_sql()} AS category
      FROM scored
    )
    SELECT category, count(*) AS n_docs FROM labeled GROUP BY category
    """


@query(
    "category_argmax",
    _category_sql(),
    doc="A5 keyword-count argmax categorization (post_processor.py:178-201)",
)
def category_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", fanout=True)
    return docs.withColumn("category", category_col(F.col("text"))).groupBy("category").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# =====================================================================
# Windows (SURVEY.md §2.5)
# =====================================================================


@query(
    "topk_per_group",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
    doc="W6/O3 per-group top-k via deterministic row_number",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@query(
    "running_offset",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING), 4) AS running_qty
    FROM lineitem
    """,
    doc="W5 running cumulative sum (chunk-offset math, chunker.py:236-267)",
)
def running_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 4).alias("running_qty"),
    )


@query(
    "lag_change_detect",
    """
    SELECT event_id, user_id, round(delta, 4) AS delta FROM (
      SELECT event_id, user_id,
             abs(value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)) AS delta
      FROM events
    ) WHERE delta > 50
    """,
    doc="W1/F3 change detection vs previous row (extractor.py:141-149)",
)
def lag_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.abs(F.col("value") - F.lag("value").over(w))
    return (
        ev.withColumn("delta", delta)
        .where(F.col("delta") > 50)
        .select("event_id", "user_id", F.round("delta", 4).alias("delta"))
    )


@query(
    "minute_rate_cap",
    """
    SELECT user_id, count(*) AS kept FROM (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id,
                                CAST(floor(epoch(ts) / 60) AS BIGINT)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= 2 GROUP BY user_id
    """,
    doc="F4 per-minute rate cap (extractor.py:131-154): keep first 2 per bucket",
)
def minute_rate_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 60)
    w = W.partitionBy("user_id", bucket).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("kept"))
    )


@query(
    "sliding_window_rate",
    """
    SELECT user_id, max(in_last_minute) AS max_per_minute FROM (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                            RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS in_last_minute
      FROM events
    ) GROUP BY user_id
    """,
    doc="W4/A7 sliding event-time count driving the adaptive-mode switch "
    "(extractor.py:245-299)",
)
def sliding_window_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("sec", F.unix_timestamp("ts"))
    w = W.partitionBy("user_id").orderBy("sec").rangeBetween(-60, 0)
    return (
        ev.withColumn("in_last_minute", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.max("in_last_minute").alias("max_per_minute"))
    )


@query(
    "frame_renumber",
    """
    SELECT user_id, event_id,
           lpad(CAST(row_number() OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS VARCHAR), 3, '0') AS frame_id
    FROM events
    """,
    doc="W3/S10 sort + zero-padded renumbering (generator.py:26-36)",
)
def frame_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lpad(F.row_number().over(w).cast("string"), 3, "0").alias("frame_id"),
    )


# =====================================================================
# Joins (SURVEY.md §2.3)
# =====================================================================


@query(
    "interval_join",
    """
    SELECT o.o_orderpriority,
           count(*)                          AS n_lineitems,
           round(sum(l.l_extendedprice), 4)  AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderpriority
    """,
    doc="J2 interval-overlap join (gemini_backend.py:79-92 range join)",
)
def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(
        o,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
    )


@query(
    "asof_join",
    """
    SELECT p_id, v_id FROM (
      SELECT p.event_id AS p_id, v.event_id AS v_id,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM events p JOIN events v
        ON v.user_id = p.user_id AND v.event_type = 'view'
       AND v.ts <= p.ts AND v.event_id <> p.event_id
      WHERE p.event_type = 'purchase'
    ) WHERE rn = 1
    """,
    doc="J1 as-of join: latest prior 'view' per 'purchase' (aligner.py:45-50 "
    "closest-timestamp semantics)",
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    joined = p.join(
        v,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_id") != F.col("p_id")),
    )
    w = W.partitionBy("p_id").orderBy(F.desc("v_ts"), F.desc("v_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_id", "v_id")
    )


@query(
    "semi_join_customers",
    """
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    doc="J3 left-semi join (post_processor.py:62-63)",
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "anti_join_customers",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="J5 anti join / set difference (compare_reports.py:193-197)",
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "compare_halves",
    """
    WITH old AS (
      SELECT source, round(avg(n_chars), 4) AS old_chars, count(*) AS old_n
      FROM documents WHERE n_chars % 2 = 0 GROUP BY source
    ), new AS (
      SELECT source, round(avg(n_chars), 4) AS new_chars, count(*) AS new_n
      FROM documents WHERE n_chars % 2 = 1 GROUP BY source
    )
    SELECT o.source, o.old_chars, n.new_chars,
           CASE WHEN n.new_chars > o.old_chars * 1.2 THEN 'improved'
                WHEN n.new_chars < o.old_chars * 0.8 THEN 'degraded'
                ELSE 'stable' END AS verdict
    FROM old o JOIN new n ON o.source = n.source
    """,
    doc="J4/A9 compare-reports inner join + ±20%% verdict "
    "(compare_reports.py:277-315)",
)
def compare_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    old = (
        d.where(F.col("n_chars") % 2 == 0)
        .groupBy("source")
        .agg(F.round(F.avg("n_chars"), 4).alias("old_chars"), F.count(F.lit(1)).alias("old_n"))
    )
    new = (
        d.where(F.col("n_chars") % 2 == 1)
        .groupBy("source")
        .agg(F.round(F.avg("n_chars"), 4).alias("new_chars"), F.count(F.lit(1)).alias("new_n"))
    )
    verdict = (
        F.when(F.col("new_chars") > F.col("old_chars") * 1.2, "improved")
        .when(F.col("new_chars") < F.col("old_chars") * 0.8, "degraded")
        .otherwise("stable")
    )
    return (
        old.join(new, "source")
        .select("source", "old_chars", "new_chars", verdict.alias("verdict"))
    )


# =====================================================================
# Filters / scalar functions (SURVEY.md §2.2, §2.7)
# =====================================================================


@query(
    "junk_filter",
    """
    SELECT lang, count(*) AS n_kept FROM documents
    WHERE length(text) > 20
      AND NOT contains(lower(text), 'copyright')
      AND NOT contains(lower(text), 'thank you')
    GROUP BY lang
    """,
    doc="F5/F10 junk filter + valuable-content predicate "
    "(extractor.py:369-396, generator.py:136-152)",
)
def junk_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", fanout=True)
    low = F.lower(F.col("text"))
    return (
        d.where(
            (F.length("text") > 20)
            & ~F.contains(low, F.lit("copyright"))
            & ~F.contains(low, F.lit("thank you"))
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@query(
    "filler_clean",
    r"""
    SELECT lang,
           CAST(sum(length(trim(regexp_replace(regexp_replace(text,
                'batch batch batch', ' ', 'g'), '\s+', ' ', 'g')))) AS BIGINT)
           AS total_clean_chars
    FROM documents GROUP BY lang
    """,
    doc="F8 filler-pattern cleanup via chained regexp_replace "
    "(post_processor.py:6-30)",
)
def filler_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", fanout=True)
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "batch batch batch", " "), r"\s+", " "
        )
    )
    return d.groupBy("lang").agg(
        F.sum(F.length(cleaned)).alias("total_clean_chars")
    )


@query(
    "has_specifics",
    """
    SELECT count(*) AS n_specific FROM documents
    WHERE regexp_matches(text, '[0-9]+')
       OR contains(text, 'spark') OR contains(text, 'vector')
    """,
    doc="F11 has-specifics predicate: digits regex OR term list "
    "(generator.py:155-165)",
)
def has_specifics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", fanout=True)
    pred = (
        F.col("text").rlike("[0-9]+")
        | F.contains(F.col("text"), F.lit("spark"))
        | F.contains(F.col("text"), F.lit("vector"))
    )
    return d.where(pred).agg(F.count(F.lit(1)).alias("n_specific"))


@query(
    "normalized_dedup",
    r"""
    SELECT count(*) AS n_unique, CAST(sum(dup_count) AS BIGINT) AS n_total FROM (
      SELECT count(*) AS dup_count
      FROM documents
      GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
    )
    """,
    doc="A3 dedup on normalized key (post_processor.py:204-219)",
)
def normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    key = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    per_key = d.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("dup_count"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_unique"), F.sum("dup_count").alias("n_total")
    )


@query(
    "json_extract_props",
    """
    SELECT event_type,
           CAST(sum(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT)
             AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="JSON-salvage extract (gemini_backend.py:131-138) as regexp_extract "
    "+ cast",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events", fanout=True)
    # try_cast: regexp_extract yields '' on no-match, which ANSI cast rejects
    k = F.regexp_extract(F.col("props"), r'"k": ([0-9]+)', 1).try_cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


@query(
    "tumbling_window",
    """
    SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="S2.8 tumbling event-time window in batch form (extractor.py:136-138 "
    "minute buckets; streaming twin in streaming/events.py)",
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 300).cast("long")
    return ev.groupBy(bucket.alias("bucket"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )


# =====================================================================
# Dedup / similarity / text analysis (training-data ops)
# =====================================================================


@query(
    "dedup_exact_clusters",
    r"""
    SELECT count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_dup_docs,
           CAST(max(cluster_size) AS BIGINT) AS max_cluster
    FROM (
      SELECT count(*) AS cluster_size
      FROM documents
      GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      HAVING count(*) >= 2
    )
    """,
    doc="exact dedup via content-digest groupBy (operators/dedup.py)",
)
def dedup_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    clusters = dedup.exact_duplicates(d)
    return clusters.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_dup_docs"),
        F.max("cluster_size").alias("max_cluster"),
    )


@query(
    "ngram_jaccard_neardup",
    r"""
    WITH words AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE doc_id < 300
    ), toks AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, len(w) - 2 + 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             )) AS sh
      FROM words WHERE len(w) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
    doc="n-gram Jaccard near-dup pairs, blocked by lang (operators/dedup.py)",
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 300) & (textstats.token_count(F.col("text")) >= 3)
    )
    return dedup.ngram_jaccard_pairs(d, block_cols=("lang",), n=3, threshold=0.5)


@query(
    "aligned_segments",
    r"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), pos AS (
      SELECT doc_id, ws, unnest(range(len(ws))) AS p, unnest(ws) AS word FROM w
    ), segs AS (
      SELECT doc_id, CAST(floor(p / 12) AS BIGINT) AS seg_id,
             CAST(min(p) AS DOUBLE) AS s_start, CAST(max(p) AS DOUBLE) AS s_end,
             string_agg(word, ' ' ORDER BY p) AS speech
      FROM pos GROUP BY doc_id, floor(p / 12)
    ), fidx AS (
      SELECT doc_id, p * 1.0 AS ts,
             array_to_string(list_slice(ws, CAST(p AS INT) + 1, CAST(p AS INT) + 3), ' ') AS ftext,
             word AS tag,
             row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS f_idx
      FROM pos WHERE length(word) >= 5
    ), cj AS (
      SELECT s.doc_id, s.seg_id, f.f_idx
      FROM segs s JOIN fidx f ON s.doc_id = f.doc_id AND f.ts <= s.s_start + 5
      QUALIFY row_number() OVER (PARTITION BY s.doc_id, s.seg_id
                                 ORDER BY abs(f.ts - s.s_start), f.f_idx) = 1
    ), closest AS (
      SELECT s.doc_id, s.seg_id, s.s_start, s.s_end, s.speech,
             coalesce(c.f_idx, 0) AS cidx
      FROM segs s LEFT JOIN cj c USING (doc_id, seg_id)
    ), cand AS (
      SELECT c.doc_id, c.seg_id, c.s_start, c.s_end, c.speech, f.f_idx, f.ts, f.ftext, f.tag
      FROM closest c JOIN fidx f
        ON c.doc_id = f.doc_id AND f.f_idx BETWEEN c.cidx - 3 AND c.cidx + 3
      WHERE f.ts <= c.s_end + 10
    ), scored AS (
      SELECT *,
        0.5 * (CASE WHEN list_contains(list_distinct(string_split(lower(speech), ' ')), lower(tag))
                    THEN 1.0 ELSE 0.0 END)
        + 0.3 * (CASE WHEN len(list_distinct(list_filter(string_split(lower(speech), ' '), x -> length(x) > 2))) > 0
                       AND len(list_distinct(list_filter(string_split(lower(ftext), ' '), x -> length(x) > 2))) > 0
                      THEN len(list_intersect(
                             list_distinct(list_filter(string_split(lower(speech), ' '), x -> length(x) > 2)),
                             list_distinct(list_filter(string_split(lower(ftext), ' '), x -> length(x) > 2))))
                           * 1.0 / len(list_distinct(list_filter(string_split(lower(speech), ' '), x -> length(x) > 2)))
                      ELSE 0.0 END)
        + 0.2 * (1.0 / (1.0 + abs(ts - s_start) / 10.0)) AS score
      FROM cand
    ), best AS (
      SELECT doc_id, seg_id, s_start, s_end, speech, ftext AS slide_text
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY doc_id, seg_id ORDER BY score DESC, f_idx) = 1
    ), nocand AS (
      SELECT c.doc_id, c.seg_id, c.s_start, c.s_end, c.speech, coalesce(f.ftext, '') AS slide_text
      FROM closest c LEFT JOIN fidx f ON c.doc_id = f.doc_id AND f.f_idx = c.cidx
      WHERE NOT EXISTS (SELECT 1 FROM cand x WHERE x.doc_id = c.doc_id AND x.seg_id = c.seg_id)
    )
    SELECT doc_id, seg_id, s_start AS start, s_end AS "end", speech, slide_text FROM best
    UNION ALL
    SELECT doc_id, seg_id, s_start AS start, s_end AS "end", speech, slide_text FROM nocand
    """,
    doc="J1 the scored as-of/interval join ITSELF, fully DuckDB-oracled: "
    "segments = 12-word chunks of each document, frames = positions of "
    "words >= 5 chars (3-word context text, the word as tag); the oracle "
    "restates closest-eligible-frame selection, the bounded candidate "
    "window, the blended tag/text/timestamp score, first-wins argmax, "
    "and the no-candidate fallback non-iteratively — slide_text is "
    "hash-compared, so the argmax itself is certified cross-engine "
    "(reference semantics: /root/reference/src/align/aligner.py:4-110)",
)
def aligned_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from corporate_knowledge_extractor_spark.operators.align import (
        align_segments_to_frames,
    )

    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    base = d.select("doc_id", w.alias("ws"))
    pos = base.select("doc_id", "ws", F.posexplode("ws").alias("p", "word"))
    segs = (
        pos.groupBy("doc_id", F.floor(F.col("p") / 12).alias("seg_id"))
        .agg(
            F.min("p").alias("start"),
            F.max("p").alias("end"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "word"))),
                    lambda s: s.word,
                ),
                " ",
            ).alias("text"),
        )
    )
    frames = pos.where(F.length("word") >= 5).select(
        "doc_id",
        F.col("p").cast("double").alias("ts"),
        F.array_join(F.slice("ws", F.col("p") + 1, 3), " ").alias("text"),
        F.array(F.col("word")).alias("tags"),
    )
    segs2 = segs.select(
        F.col("doc_id").cast("string").alias("repo"),
        F.lit("").alias("path"),
        F.lit("").alias("commit"),
        "seg_id",
        F.col("start").cast("double").alias("start"),
        F.col("end").cast("double").alias("end"),
        "text",
    )
    frames2 = frames.select(
        F.col("doc_id").cast("string").alias("repo"),
        F.lit("").alias("path"),
        F.lit("").alias("commit"),
        "ts",
        "text",
        "tags",
    )
    return align_segments_to_frames(segs2, frames2).select(
        F.col("repo").cast("bigint").alias("doc_id"),
        "seg_id", "start", "end", "speech", "slide_text",
    )


@query(
    "neardup_clusters",
    r"""
    WITH RECURSIVE words AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ), toks AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, len(w) - 2 + 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             )) AS sh
      FROM words WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 /
            len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.6
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      WHERE r.src <> e.dst
    ), mins AS (
      SELECT src AS doc_id, min(dst) AS min_reach FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           CAST(least(d.doc_id, coalesce(m.min_reach, d.doc_id)) AS BIGINT)
             AS cluster_id,
           least(d.doc_id, coalesce(m.min_reach, d.doc_id)) = d.doc_id
             AS is_representative
    FROM documents d LEFT JOIN mins m USING (doc_id)
    """,
    doc="near-dup CLUSTER collapse: n-gram Jaccard pairs closed into "
    "connected components (the iterative CC operator), keep-first "
    "representative per cluster — oracled via a DuckDB recursive-CTE "
    "transitive closure stating the fixpoint the Spark loop converges to",
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    eligible = d.where(textstats.token_count(F.col("text")) >= 3)
    pairs = dedup.ngram_jaccard_pairs(
        eligible, block_cols=("lang",), n=3, threshold=0.6
    )
    return dedup.neardup_clusters(d, pairs)


@query(
    "embedding_topk",
    """
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, cosine_sim, rank FROM (
      SELECT e.vec_id,
             round(list_dot_product(e.embedding, q.qvec) /
                   (sqrt(list_dot_product(e.embedding, e.embedding)) *
                    sqrt(list_dot_product(q.qvec, q.qvec))), 4) AS cosine_sim,
             row_number() OVER (
               ORDER BY list_dot_product(e.embedding, q.qvec) /
                        (sqrt(list_dot_product(e.embedding, e.embedding)) *
                         sqrt(list_dot_product(q.qvec, q.qvec))) DESC, e.vec_id
             ) AS rank
      FROM embeddings e, q
    ) WHERE rank <= 10
    """,
    doc="brute-force cosine top-k similarity search (operators/similarity.py)",
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    q = e.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    return similarity.brute_force_topk(e, q, k=10).select("vec_id", "cosine_sim", "rank")


def _lang_id_sql() -> str:
    toks = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
    scores = ",\n      ".join(
        f"len(list_filter({toks}, t -> list_contains({list(words)!r}, t))) AS s_{lang}"
        for lang, words in textstats.LANG_STOPWORDS
    )
    cases = []
    langs = [lang for lang, _ in textstats.LANG_STOPWORDS]
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"]
        conds += [f"s_{l2} < s_{lang}" for l2 in langs[:i]]
        conds += [f"s_{l2} <= s_{lang}" for l2 in langs[i + 1 :]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
      {scores}
      FROM documents
    )
    SELECT lang, CASE {' '.join(cases)} ELSE 'und' END AS pred_lang, count(*) AS n
    FROM scored GROUP BY 1, 2
    """


@query(
    "lang_id_confusion",
    _lang_id_sql(),
    doc="heuristic language-ID vs labeled lang (operators/textstats.py)",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", fanout=True)
    return (
        d.withColumn("pred_lang", textstats.lang_id(F.col("text")))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "token_stats",
    r"""
    SELECT lang,
           CAST(sum(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
             AS total_tokens,
           CAST(sum(len(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')))) AS BIGINT)
             AS total_distinct_tokens
    FROM documents GROUP BY lang
    """,
    doc="token counting (operators/textstats.py)",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", fanout=True)
    return d.groupBy("lang").agg(
        F.sum(textstats.token_count(F.col("text"))).alias("total_tokens"),
        F.sum(textstats.distinct_token_count(F.col("text"))).alias(
            "total_distinct_tokens"
        ),
    )


def _bpe_token_sql() -> str:
    pat = textstats.BPE_ISH_PATTERN.replace("'", "''")
    words = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
    return f"""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '{pat}'))) AS BIGINT)
             AS total_bpe_tokens,
           round(avg(len(regexp_extract_all(text, '{pat}'))
                     * 1.0 / greatest(len({words}), 1)), 4)
             AS avg_bpe_per_word
    FROM documents GROUP BY lang
    """


@query(
    "bpe_token_stats",
    _bpe_token_sql(),
    doc="BPE-ish subword token budgeting: GPT-2-style pre-tokenizer "
    "boundaries via regexp_extract_all (operators/textstats.py), the "
    "per-lang token-count estimate a training pipeline budgets with",
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", fanout=True)
    return d.groupBy("lang").agg(
        F.sum(textstats.bpe_ish_token_count(F.col("text"))).alias("total_bpe_tokens"),
        F.round(
            F.avg(
                textstats.bpe_ish_token_count(F.col("text"))
                / F.greatest(textstats.token_count(F.col("text")), F.lit(1))
            ),
            4,
        ).alias("avg_bpe_per_word"),
    )


@query(
    "doc_fingerprints",
    r"""
    SELECT count(DISTINCT md5(array_to_string(
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')[1:32], ' ')))
           AS n_fingerprints,
           count(*) AS n_docs
    FROM documents
    """,
    doc="document fingerprinting: digest of first 32 normalized tokens "
    "(operators/textstats.py)",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", fanout=True)
    return d.agg(
        F.countDistinct(textstats.fingerprint(F.col("text"), 32)).alias(
            "n_fingerprints"
        ),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _quality_sql() -> str:
    stops = list(textstats.EN_STOPWORDS)
    toks = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
    return f"""
    WITH feats AS (
      SELECT lang,
             len({toks}) AS n_tok,
             length(text) AS n_chars,
             round(len(list_filter({toks}, t -> list_contains({stops!r}, t)))
                   * 1.0 / greatest(len({toks}), 1), 4) AS stop_ratio,
             round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                   * 1.0 / greatest(length(text), 1), 4) AS punct_ratio
      FROM documents
    ), scored AS (
      SELECT lang, stop_ratio,
             round((CASE WHEN n_tok >= 5 AND n_tok <= 1000 THEN 0.4 ELSE 0.0 END)
                   + least(stop_ratio * 2, 0.3)
                   + (CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END), 4)
               AS quality_score
      FROM feats
    )
    SELECT lang, round(avg(quality_score), 4) AS avg_quality,
           round(avg(stop_ratio), 4) AS avg_stopword_ratio,
           count(*) AS n
    FROM scored GROUP BY lang
    """


@query(
    "quality_scores",
    _quality_sql(),
    doc="quality scoring: length/punct/stopword ratios (operators/textstats.py)",
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", fanout=True)
    feats = textstats.quality_features(d)
    return feats.groupBy("lang").agg(
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        F.count(F.lit(1)).alias("n"),
    )


# =====================================================================
# Non-SQL-expressible (rows-only checks; correctness via pytest oracle)
# =====================================================================


def _kg_sql() -> str:
    """DuckDB re-statement of the *entire* extraction pipeline
    (segment -> junk filter -> mention rule bank -> caps -> redaction ->
    triple synthesis -> dedup -> call validation -> categorize) over the
    pandas-twin corpus parquet — every constant comes from
    functions/rules.py and config.py, so this oracle and the Spark plan
    can only agree by computing the same thing.

    The Spark side generates the corpus at sf0.001 / sf0.01 / sf0.1
    (500 / 5k / 50k docs) following the harness's sf_dir; the oracle picks
    the matching twin parquet by probing the registered `events` view's
    row count (1000 / 10000 / 100000 at the three scales — `documents` is
    500 at BOTH sf0.001 and sf0.01, so it cannot key the probe). The probe
    is the only sf channel available: the driver contract is a *static*
    SQL string per query (`oracle_sql() -> dict[str, str]`), resolved once
    before the harness picks a scale, so the scale cannot be templated in
    — it must be inferred from the registered views at execution time.

    First-call cost: resolving this SQL materializes twin parquet for all
    three scales (they must all exist at resolution time, for the same
    static-string reason), so even an sf0.001 run pays the sf0.1 twin's
    ~6s pandas generation once; subsequent resolutions hit the
    (seed, sf, generator-code-hash) parquet cache in the tempdir.
    """
    from corporate_knowledge_extractor_spark.config import DEFAULT_CONFIG
    from corporate_knowledge_extractor_spark.corpus import twin_corpus_parquet

    p_small = twin_corpus_parquet(0.001)
    p_large = twin_corpus_parquet(0.01)
    p_xl = twin_corpus_parquet(0.1)
    mcfg = DEFAULT_CONFIG.mentions

    junk_pred = " OR ".join(
        f"contains(lower(line), '{p}')" for p in rules.JUNK_BLOCK_PATTERNS
    )
    rule_bank = [
        (rules.RE_IMPORT, 1, "import", 0),
        (rules.RE_FROM_IMPORT, 1, "import", 0),
        (rules.RE_FROM_IMPORT, 2, "import_symbol", 1),
        (rules.RE_DEF, 1, "function_def", 2),
        (rules.RE_CALL, 1, "call", 3),
        (rules.RE_PERSON_COMMENT, 1, "person", 4),
    ]
    cand_branches = "\n      UNION ALL\n".join(
        f"""      SELECT repo, path, commit, block_id, line_no,
             regexp_extract(line, '{pat}', {grp}) AS surface,
             '{mtype}' AS mention_type, {torder} AS torder
      FROM nojunk WHERE regexp_extract(line, '{pat}', {grp}) <> ''"""
        for pat, grp, mtype, torder in rule_bank
    )

    def norm(col: str) -> str:
        return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"

    score_cols = ",\n           ".join(
        f"({_category_score_sql('obj', kws)}) AS s_{cat}"
        for cat, kws in rules.CATEGORY_KEYWORDS
    )

    return f"""
    WITH corpus AS (
      SELECT repo, path, commit, content FROM read_parquet('{p_small}')
      WHERE (SELECT count(*) FROM events) < 5000
      UNION ALL
      SELECT repo, path, commit, content FROM read_parquet('{p_large}')
      WHERE (SELECT count(*) FROM events) BETWEEN 5000 AND 49999
      UNION ALL
      SELECT repo, path, commit, content FROM read_parquet('{p_xl}')
      WHERE (SELECT count(*) FROM events) >= 50000
    ), lines AS (
      SELECT repo, path, commit,
             unnest(range(len(ls))) AS line_no,
             unnest(ls) AS line
      FROM (SELECT repo, path, commit, string_split(content, chr(10)) AS ls
            FROM corpus)
    ), blocked AS (
      SELECT repo, path, commit, line_no, line,
             sum(CASE WHEN trim(line) = '' THEN 1 ELSE 0 END)
               OVER (PARTITION BY repo, path, commit ORDER BY line_no) AS block_id
      FROM lines
      QUALIFY trim(line) <> ''
    ), nojunk AS (
      SELECT repo, path, commit, block_id, line_no, line FROM (
        SELECT b.*,
               max(CASE WHEN {junk_pred} THEN 1 ELSE 0 END)
                 OVER (PARTITION BY repo, path, commit, block_id) AS _junk
        FROM blocked b
      ) WHERE _junk = 0
    ), cand AS (
{cand_branches}
    ), capped AS (
      SELECT * FROM cand
      QUALIFY row_number() OVER (PARTITION BY repo, path, commit, block_id
                                 ORDER BY line_no, torder) <= {mcfg.max_per_block}
    ), numbered AS (
      SELECT *, row_number() OVER (PARTITION BY repo, path, commit
                                   ORDER BY line_no, torder) AS orig_idx
      FROM capped
      QUALIFY orig_idx <= {mcfg.max_total}
    ), redacted AS (
      SELECT repo, path, commit, block_id, line_no, mention_type, orig_idx,
             regexp_replace(regexp_replace(regexp_replace(surface,
               '{rules.RE_PERSON_NAME}', '{rules.MASK_PERSON}', 'g'),
               '{rules.RE_EMAIL}', '{rules.MASK_EMAIL}', 'g'),
               '{rules.RE_PHONE}', '{rules.MASK_PHONE}', 'g') AS surface
      FROM numbered
    ), non_call AS (
      SELECT repo, path, commit,
             repo || '/' || path AS subj,
             CASE mention_type WHEN 'import' THEN 'imports'
                  WHEN 'import_symbol' THEN 'imports_symbol'
                  ELSE 'defines' END AS pred,
             surface AS obj,
             lpad(CAST(orig_idx AS VARCHAR), 3, '0') AS frame_id,
             line_no
      FROM redacted
      WHERE mention_type IN ('import', 'import_symbol', 'function_def')
    ), defs_pb AS (
      SELECT repo, path, commit, block_id, min_by(surface, line_no) AS enclosing_fn
      FROM redacted WHERE mention_type = 'function_def'
      GROUP BY repo, path, commit, block_id
    ), calls_t AS (
      SELECT r.repo, r.path, r.commit,
             r.repo || '/' || r.path || '::' || d.enclosing_fn AS subj,
             'calls' AS pred, r.surface AS obj,
             lpad(CAST(r.orig_idx AS VARCHAR), 3, '0') AS frame_id,
             r.line_no
      FROM redacted r
      JOIN defs_pb d USING (repo, path, commit, block_id)
      WHERE r.mention_type = 'call'
    ), raw_triples AS (
      SELECT * FROM non_call UNION ALL SELECT * FROM calls_t
    ), deduped AS (
      SELECT repo, path, commit, subj, pred, obj, frame_id, line_no
      FROM raw_triples
      QUALIFY row_number() OVER (
        PARTITION BY repo, path, commit,
                     {norm('subj')}, {norm('pred')}, {norm('obj')}
        ORDER BY line_no, frame_id) = 1
    ), known AS (
      SELECT DISTINCT obj AS _known FROM deduped
      WHERE pred IN ('defines', 'imports_symbol')
    ), validated AS (
      SELECT d.repo, d.path, d.commit, d.subj, d.pred, d.obj, d.frame_id, d.line_no
      FROM deduped d LEFT JOIN known k ON d.obj = k._known
      WHERE d.pred <> 'calls' OR k._known IS NOT NULL
    ), cat_scored AS (
      SELECT *,
           {score_cols}
      FROM validated
    )
    SELECT repo, path, commit, subj, pred, obj, frame_id, line_no,
           {_category_case_sql()} AS category
    FROM cat_scored
    """


@query(
    "kg_triples",
    # lazy oracles (zero-arg builders, resolved by resolve_sql at harness
    # time) for the kg family: building one materializes twin-corpus
    # parquet, which must not happen at module import
    _kg_sql,
    doc="the KG pipeline's extraction stage on the synthetic corpus "
    "(P/R gate in tests/test_pipeline.py + full DuckDB oracle _kg_sql); "
    "the corpus scale follows sf_dir all the way to sf0.1, so the hash "
    "gate covers the bench scale (tests/test_oracle_sf01.py)",
)
def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from corporate_knowledge_extractor_spark.corpus import generate_corpus
    from corporate_knowledge_extractor_spark.plans.pipeline import extract_triples

    sf = 0.001 if "0.001" in sf_dir else (0.01 if "0.01" in sf_dir else 0.1)
    docs = generate_corpus(spark, sf=sf)
    return extract_triples(docs)


def _cc_canonical_sql() -> str:
    kg = _kg_sql()
    return f"""
    WITH t AS (SELECT * FROM ({kg})), surf AS (
      SELECT obj AS surface FROM t
      WHERE pred IN ('defines', 'calls', 'imports_symbol')
      UNION ALL
      SELECT string_split(subj, '::')[2] AS surface FROM t WHERE pred = 'calls'
    ), ent AS (
      SELECT DISTINCT surface FROM surf
    ), keyed AS (
      SELECT surface,
             regexp_replace(replace(replace(lower(surface), '_', ''), '-', ''),
                            'v2$', '') AS k
      FROM ent
    )
    SELECT surface, min(surface) OVER (PARTITION BY k) AS canonical FROM keyed
    """


@query(
    "cc_canonical",
    _cc_canonical_sql,
    doc="canonicalization end-to-end: extract entities from the KG "
    "triples, build deterministic alias edges (equal stripped-norm key: "
    "casefold, drop _/-, strip trailing v2), resolve with the iterative "
    "connected-components operator, emit (surface, canonical=min surface "
    "of the component). The edge rule makes components == key groups, so "
    "DuckDB states the expected fixpoint in closed form while Spark has "
    "to *reach* it by label propagation — a true cross-engine check of "
    "the CC operator on thousands of real extracted entities",
)
def cc_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from corporate_knowledge_extractor_spark.corpus import generate_corpus
    from corporate_knowledge_extractor_spark.operators import canonicalize as cc
    from corporate_knowledge_extractor_spark.operators import linking
    from corporate_knowledge_extractor_spark.plans.pipeline import extract_triples

    sf = 0.001 if "0.001" in sf_dir else (0.01 if "0.01" in sf_dir else 0.1)
    docs = generate_corpus(spark, sf=sf)
    entities = linking.extract_entities(extract_triples(docs))
    keyed = entities.withColumn("k", F.regexp_replace("norm", "v2$", ""))
    # star edges: every alias connects to its key group's min-surface
    # anchor — linear edge count, same components as the full clique
    anchors = keyed.groupBy("k").agg(F.min_by("entity_id", "surface").alias("_anchor"))
    edges = (
        keyed.join(anchors, "k")
        .where(F.col("entity_id") != F.col("_anchor"))
        .select(F.col("entity_id").alias("id_a"), F.col("_anchor").alias("id_b"))
    )
    comp = cc.connected_components(keyed.select("entity_id"), edges)
    labeled = keyed.join(comp, "entity_id")
    canon = labeled.groupBy("component").agg(F.min("surface").alias("canonical"))
    return (
        labeled.join(canon, "component")
        .select("surface", "canonical")
        .distinct()
    )


def _entities_cte_sql() -> str:
    """Shared CTE prefix: triples (the full kg restatement) -> entity
    surfaces with frequencies and the deterministic alias key."""
    kg = _kg_sql()
    return f"""
    WITH t AS (SELECT * FROM ({kg})), surf AS (
      SELECT obj AS surface FROM t
      WHERE pred IN ('defines', 'calls', 'imports_symbol')
      UNION ALL
      SELECT string_split(subj, '::')[2] AS surface FROM t WHERE pred = 'calls'
    ), freqed AS (
      SELECT surface, count(*) AS freq FROM surf GROUP BY surface
    ), keyed AS (
      SELECT surface, freq,
             regexp_replace(replace(replace(lower(surface), '_', ''), '-', ''),
                            'v2$', '') AS k
      FROM freqed
    )"""


def _alias_components(spark: SparkSession, sf_dir: str):
    """Spark twin of the CTE above + CC resolution: returns (entities
    with component labels, triples) where components are computed by the
    iterative CC operator over deterministic key-group star edges."""
    from corporate_knowledge_extractor_spark.corpus import generate_corpus
    from corporate_knowledge_extractor_spark.operators import canonicalize as cc
    from corporate_knowledge_extractor_spark.operators import linking
    from corporate_knowledge_extractor_spark.plans.pipeline import extract_triples

    sf = 0.001 if "0.001" in sf_dir else (0.01 if "0.01" in sf_dir else 0.1)
    docs = generate_corpus(spark, sf=sf)
    # extract_triples persists its own fan-out point; triples itself feeds
    # both the entity extraction and the edge rewrite -> one more eager
    # serialized persist (materialize.py policy)
    from corporate_knowledge_extractor_spark.materialize import materialize

    triples = materialize(extract_triples(docs))
    entities = linking.extract_entities(triples)
    keyed = entities.withColumn("k", F.regexp_replace("norm", "v2$", ""))
    anchors = keyed.groupBy("k").agg(F.min_by("entity_id", "surface").alias("_anchor"))
    edges = (
        keyed.join(anchors, "k")
        .where(F.col("entity_id") != F.col("_anchor"))
        .select(F.col("entity_id").alias("id_a"), F.col("_anchor").alias("id_b"))
    )
    comp = cc.connected_components(keyed.select("entity_id"), edges)
    return keyed.join(comp, "entity_id"), triples


def _graph_nodes_sql() -> str:
    return f"""{_entities_cte_sql()}
    SELECT first(surface ORDER BY freq DESC, surface ASC) AS canonical,
           array_to_string(list_sort(list_distinct(list(surface))), '|') AS aliases,
           count(*) AS n_aliases,
           CAST(sum(freq) AS BIGINT) AS total_freq
    FROM keyed GROUP BY k
    """


@query(
    "graph_nodes",
    _graph_nodes_sql,
    doc="graph materialize, node side: canonicalize.build_nodes semantics "
    "(canonical = most-frequent-then-smallest alias, sorted alias set, "
    "freq totals) over CC-resolved components, projected to engine-"
    "neutral columns and hash-checked against DuckDB",
)
def graph_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from corporate_knowledge_extractor_spark.operators import canonicalize as cc

    labeled, _ = _alias_components(spark, sf_dir)
    nodes = cc.build_nodes(
        labeled.select("surface", "freq", "entity_id"),
        labeled.select("entity_id", "component"),
    )
    return nodes.select(
        "canonical",
        F.array_join("aliases", "|").alias("aliases"),
        F.col("n_aliases"),
        F.col("total_freq").cast("long").alias("total_freq"),
    )


def _graph_edges_sql() -> str:
    return f"""{_entities_cte_sql()}, canon_per_k AS (
      SELECT k, first(surface ORDER BY freq DESC, surface ASC) AS canonical
      FROM keyed GROUP BY k
    ), canon AS (
      SELECT keyed.surface, canon_per_k.canonical
      FROM keyed JOIN canon_per_k USING (k)
    ), rewritten AS (
      SELECT t.subj AS src_name,
             CASE WHEN t.pred IN ('defines', 'calls', 'imports_symbol')
                  THEN coalesce(c.canonical, t.obj) ELSE t.obj END AS dst_name,
             t.pred, t.category, t.frame_id,
             t.repo || '/' || t.path AS doc
      FROM t LEFT JOIN canon c
        ON t.obj = c.surface AND t.pred IN ('defines', 'calls', 'imports_symbol')
    )
    SELECT src_name, dst_name, pred, category,
           count(*) AS weight,
           min(frame_id) AS frame_id,
           min(doc) AS example_doc
    FROM rewritten GROUP BY src_name, dst_name, pred, category
    """


@query(
    "graph_edges",
    _graph_edges_sql,
    doc="graph materialize, edge side: pipeline.build_edges semantics "
    "(rewrite linked-pred objects to their canonical alias, aggregate "
    "edge weights + min frame_id + min example doc), projected to the "
    "engine-neutral name-keyed columns and hash-checked against DuckDB",
)
def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from corporate_knowledge_extractor_spark.operators import canonicalize as cc

    labeled, triples = _alias_components(spark, sf_dir)
    cmap = cc.canonical_map(
        labeled.select("surface", "freq", "entity_id"),
        labeled.select("entity_id", "component"),
    )
    linked_preds = ("defines", "calls", "imports_symbol")
    t_linked = triples.where(F.col("pred").isin(*linked_preds)).join(
        cmap.select("surface", "canonical"), triples.obj == cmap.surface, "left"
    )
    t_other = triples.where(~F.col("pred").isin(*linked_preds)).withColumn(
        "canonical", F.lit(None).cast("string")
    )
    both = t_linked.drop("surface").unionByName(t_other)
    return (
        both.select(
            F.col("subj").alias("src_name"),
            F.coalesce("canonical", F.col("obj")).alias("dst_name"),
            "pred", "category", "frame_id", "repo", "path",
        )
        .groupBy("src_name", "dst_name", "pred", "category")
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.min("frame_id").alias("frame_id"),
            F.min(F.concat_ws("/", "repo", "path")).alias("example_doc"),
        )
    )






def _linking_score_sql() -> str:
    kg = _kg_sql()
    sh = (
        "list_distinct(list_transform("
        "range(1, greatest(length(s2) - 2, 1) + 1), i -> substr(s2, i, 3)))"
    )
    return f"""
    WITH t AS (SELECT * FROM ({kg})), surf AS (
      SELECT obj AS surface FROM t
      WHERE pred IN ('defines', 'calls', 'imports_symbol')
      UNION ALL
      SELECT string_split(subj, '::')[2] AS surface FROM t WHERE pred = 'calls'
    ), ent AS (
      SELECT DISTINCT surface FROM surf
    ), keyed AS (
      SELECT surface,
             replace(replace(lower(surface), '_', ''), '-', '') AS norm
      FROM ent
    ), blocked AS (
      SELECT surface, norm, substr(norm, 1, 4) AS blk FROM keyed
    ), small AS (
      SELECT b.* FROM blocked b
      JOIN (SELECT blk, count(*) AS n FROM blocked GROUP BY blk) s USING (blk)
      WHERE s.n <= 200
    ), sh_tbl AS (
      SELECT blk, surface, {sh} AS sh FROM (
        SELECT blk, surface,
               CASE WHEN length(norm) < 3 THEN rpad(norm, 3, '#') ELSE norm END AS s2
        FROM small)
    )
    SELECT a.surface AS surface_a, b.surface AS surface_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 len(list_distinct(list_concat(a.sh, b.sh))), 4) AS similarity
    FROM sh_tbl a JOIN sh_tbl b USING (blk)
    WHERE a.surface < b.surface
      AND round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    """


@query(
    "linking_score_parity",
    _linking_score_sql,
    doc="entity-linking scorer cross-engine: candidate pairs from a "
    "deterministic 4-char-prefix block (the engine-neutral stand-in for "
    "the xxhash64 MinHash bands, which stay pytest-checked), scored with "
    "the SAME char-3-shingle Jaccard linking.score_pairs uses — proves "
    "the similarity kernel against DuckDB on real extracted entities",
)
def linking_score_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from corporate_knowledge_extractor_spark.corpus import generate_corpus
    from corporate_knowledge_extractor_spark.operators import linking
    from corporate_knowledge_extractor_spark.plans.pipeline import extract_triples

    from corporate_knowledge_extractor_spark.materialize import materialize

    sf = 0.001 if "0.001" in sf_dir else (0.01 if "0.01" in sf_dir else 0.1)
    docs = generate_corpus(spark, sf=sf)
    ents = materialize(
        linking.extract_entities(extract_triples(docs))
        .select("surface", "norm")
        .withColumn("_blk", F.substring("norm", 1, 4))
    )
    sizes = ents.groupBy("_blk").agg(F.count(F.lit(1)).alias("_n"))
    small = ents.join(sizes.where(F.col("_n") <= 200), "_blk").select(
        "_blk", "surface", linking.shingle_col(F.col("norm"), 3).alias("sh")
    )
    a = small.select("_blk", F.col("surface").alias("surface_a"), F.col("sh").alias("sh_a"))
    b = small.select("_blk", F.col("surface").alias("surface_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, "_blk")
        .where(F.col("surface_a") < F.col("surface_b"))
        .withColumn("similarity", F.round(jac, 4))
        .where(F.col("similarity") >= 0.5)
        .select("surface_a", "surface_b", "similarity")
    )


@query(
    "minhash_neardup",
    None,
    doc="MinHash+LSH near-dup pairs over documents (operators/dedup.py); "
    "the fast path hashes shingles with xxhash64 (JVM-only) -> rows-only "
    "here, while minhash_parity proves the identical min-over-hash "
    "construction against DuckDB with an engine-neutral hash",
)
def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, threshold=0.6)


@query(
    "simhash_neardup",
    None,
    doc="SimHash near-dup pairs over documents (operators/dedup.py); the "
    "fast path hashes shingles with xxhash64 (JVM-only) -> rows-only "
    "here, while simhash_parity proves the identical majority-vote "
    "construction against DuckDB with an engine-neutral hash",
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, max_hamming=6)


def _ann_sql(dim: int = 64, k: int = 5, num_planes: int = 6) -> str:
    """DuckDB oracle for embedding_ann: the LCG hyperplanes are plain
    arithmetic, so the bucket assignment (sign of dot with each plane)
    and the Hamming-1 multiprobe explode are both restated exactly —
    cross-engine fp parity for the dot products is the precedent
    embedding_topk already established (list_dot_product vs the native
    fold agree at 4-decimal rounding on this data)."""
    bucket_terms = " + ".join(
        "(CASE WHEN list_dot_product(embedding, "
        f"{similarity._hyperplane(dim, p)!r}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(num_planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(num_planes)]
    )
    cos = (
        "list_dot_product(e.embedding, p.qvec) / "
        "(sqrt(list_dot_product(e.embedding, e.embedding)) * "
        "sqrt(list_dot_product(p.qvec, p.qvec)))"
    )
    return f"""
    WITH e_b AS (
      SELECT vec_id, embedding, {bucket_terms} AS bucket FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qvec, bucket
      FROM e_b WHERE vec_id < 4
    ), probes AS (
      SELECT query_id, qvec, unnest([{probe_list}]) AS bucket FROM q
    ), scored AS (
      SELECT p.query_id, e.vec_id,
             round({cos}, 4) AS cosine_sim,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY round({cos}, 4) DESC, e.vec_id) AS rank
      FROM e_b e JOIN probes p USING (bucket)
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM scored WHERE rank <= {k}
    """


@query(
    "embedding_ann",
    _ann_sql(),
    doc="LSH-bucketed approximate nearest neighbors with Hamming-1 "
    "multiprobe (operators/similarity.py)",
)
def embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    q = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return similarity.ann_topk(e, q, dim=64, k=5, num_planes=6)


def _embedding_neardup_sql(
    dim: int = 64, threshold: float = 0.4, num_planes: int = 4,
    max_block_size: int = 1000,
) -> str:
    bucket_terms = " + ".join(
        "(CASE WHEN list_dot_product(embedding, "
        f"{similarity._hyperplane(dim, p)!r}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(num_planes)
    )
    probe_list = ", ".join(["b"] + [f"xor(b, {1 << p})" for p in range(num_planes)])
    cos = (
        "list_dot_product(l.v_l, r.v_r) / "
        "(sqrt(list_dot_product(l.v_l, l.v_l)) * "
        "sqrt(list_dot_product(r.v_r, r.v_r)))"
    )
    # symmetric hot-bucket cap (same as the Spark side): pair order is
    # normalized with least/greatest AFTER the join so both members'
    # probe fans are tried regardless of id ordering
    return f"""
    WITH e AS (
      SELECT vec_id, embedding, {bucket_terms} AS b FROM embeddings
    ), sizes AS (
      SELECT b, count(*) AS n FROM e GROUP BY b
    ), rs AS (
      SELECT e.b AS bucket, e.vec_id AS id_r, e.embedding AS v_r
      FROM e JOIN sizes USING (b) WHERE sizes.n <= {max_block_size}
    ), ls AS (
      SELECT unnest([{probe_list}]) AS bucket, vec_id AS id_l, embedding AS v_l
      FROM e
    )
    SELECT DISTINCT least(l.id_l, r.id_r) AS id_a,
           greatest(l.id_l, r.id_r) AS id_b,
           round({cos}, 4) AS cosine_sim
    FROM ls l JOIN rs r USING (bucket)
    WHERE l.id_l <> r.id_r AND round({cos}, 4) >= {threshold}
    """


@query(
    "embedding_neardup",
    _embedding_neardup_sql(),
    doc="embedding-cosine near-duplicate pairs via LSH sign-bucket "
    "blocking + exact cosine verify (operators/similarity.py) — the "
    "fifth dedup strategy; the testdata embeddings are random (max "
    "pairwise cosine ~0.48), so the 0.4 threshold exercises a real "
    "candidate/verify path",
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    return similarity.embedding_neardup_pairs(
        e, dim=64, threshold=0.4, num_planes=4
    )


def _ivf_full_sql(
    dim: int = 64, n_centroids: int = 8, nprobe: int = 3, k: int = 5,
    iterations: int = 2,
) -> str:
    """Restates the ENTIRE IVF pipeline — quantize, 2 unrolled Lloyd
    rounds (assign = max-cosine centroid with ties to the larger cluster
    index, exactly Spark's array_max over struct(s, c); means snapped to
    the 2^-12 grid; empty clusters keep their previous centroid), final
    inverted-list assignment, per-query probe ranking, bounded top-k —
    in DuckDB SQL. Exactness argument in embedding_ivf's doc."""
    cents = similarity.seed_centroids(dim, n_centroids)
    values = ", ".join(
        f"({i}, CAST({c!r} AS DOUBLE[]))" for i, c in enumerate(cents)
    )

    def cos(e: str, c: str) -> str:
        return (
            f"list_dot_product({e}, {c}) / (sqrt(list_dot_product({e}, {e}))"
            f" * sqrt(list_dot_product({c}, {c})))"
        )

    mean_arr = ", ".join(
        f"floor(avg(v[{i + 1}]) * 4096) / 4096" for i in range(dim)
    )
    lloyd = ""
    prev = "c0"
    for it in range(1, iterations + 1):
        lloyd += f""", a{it} AS (
      SELECT e.vec_id, e.v, c.cluster
      FROM emb e CROSS JOIN {prev} c
      QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {cos("e.v", "c.cent")} DESC, c.cluster DESC) = 1
    ), m{it} AS (
      SELECT cluster, [{mean_arr}] AS cent FROM a{it} GROUP BY cluster
    ), c{it} AS (
      SELECT s.cluster, coalesce(m.cent, s.cent) AS cent
      FROM {prev} s LEFT JOIN m{it} m USING (cluster)
    )"""
        prev = f"c{it}"
    return f"""
    WITH emb AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> floor(CAST(x AS DOUBLE) * 1024 + 0.5) / 1024) AS v
      FROM embeddings
    ), c0(cluster, cent) AS (VALUES {values}){lloyd},
    assigned AS (
      SELECT e.vec_id, e.v, c.cluster
      FROM emb e CROSS JOIN {prev} c
      QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {cos("e.v", "c.cent")} DESC, c.cluster DESC) = 1
    ), q AS (
      SELECT vec_id AS query_id, v AS qvec FROM emb WHERE vec_id < 4
    ), probes AS (
      SELECT q.query_id, q.qvec, c.cluster
      FROM q CROSS JOIN {prev} c
      QUALIFY row_number() OVER (PARTITION BY q.query_id
                ORDER BY {cos("q.qvec", "c.cent")} DESC, c.cluster DESC)
              <= {nprobe}
    ), scored AS (
      SELECT p.query_id, a.vec_id,
             round({cos("a.v", "p.qvec")}, 4) AS cosine_sim
      FROM assigned a JOIN probes p USING (cluster)
    )
    SELECT query_id, vec_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, vec_id) AS INT) AS rank
    FROM scored QUALIFY rank <= {k}
    """


@query(
    "embedding_ivf",
    _ivf_full_sql(),
    doc="IVF approximate top-k (ivf_build: coarse k-means quantizer + "
    "persisted inverted lists; ivf_search: nprobe list scan — "
    "operators/similarity.py), FULLY oracled since round 5: the corpus "
    "is quantized to the 2^-10 binary grid at read, which makes every "
    "per-component Lloyd sum exact in double precision (sums of exact "
    "multiples of 2^-10 stay exact far beyond this row count), so the "
    "centroid means are independent of aggregation order and the whole "
    "build+search chain is bit-identical across engines; mean_grid=4096 "
    "keeps refined centroids on a grid round over round. Recall vs "
    "brute force stays asserted in tests/test_dedup_similarity.py",
)
def embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    quant = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1024 + F.lit(0.5)) / 1024,
        ).alias("embedding"),
    )
    q = quant.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return similarity.ivf_topk(
        quant, q, dim=64, k=5, n_centroids=8, nprobe=3, mean_grid=4096
    )


def _ivf_assign_sql(dim: int = 64, n_centroids: int = 8, nprobe: int = 3) -> str:
    cents = similarity.seed_centroids(dim, n_centroids)
    values = ", ".join(
        f"({i}, CAST({c!r} AS DOUBLE[]))" for i, c in enumerate(cents)
    )
    cos = (
        "list_dot_product(e.embedding, c.cent) / "
        "(sqrt(list_dot_product(e.embedding, e.embedding)) * "
        "sqrt(list_dot_product(c.cent, c.cent)))"
    )
    # tie-break mirrors Spark's reverse(array_sort(struct(s, c))):
    # descending (s, c) lexicographic -> equal scores break to the LARGER
    # cluster index first
    return f"""
    WITH cents(cluster, cent) AS (VALUES {values}),
    scored AS (
      SELECT e.vec_id, c.cluster, {cos} AS cos
      FROM embeddings e CROSS JOIN cents c
    )
    SELECT vec_id,
           CAST(row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cluster DESC) AS INT) AS rank,
           cluster,
           round(cos, 4) AS cosine_sim
    FROM scored
    QUALIFY rank <= {nprobe}
    """


@query(
    "ivf_assign_parity",
    _ivf_assign_sql(),
    doc="per-vector centroid ranking (assignment = rank 1, probe list = "
    "rank <= nprobe) against the literal seed centroids on the RAW "
    "(unquantized) embeddings — the direct cross-engine check of the "
    "assign/probe kernel that embedding_ivf (fully oracled via "
    "quantization since round 5) exercises only through the whole "
    "build+search chain",
)
def ivf_assign_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    cents = similarity.seed_centroids(64, 8)
    cent_lit = [F.array(*[F.lit(v) for v in c]) for c in cents]
    scored = F.array(
        *[
            F.struct(
                similarity.cosine(F.col("embedding"), cent_lit[i]).alias("s"),
                F.lit(i).alias("c"),
            )
            for i in range(len(cents))
        ]
    )
    sel = F.slice(F.reverse(F.array_sort(scored)), 1, 3)
    return (
        e.select("vec_id", F.posexplode(sel).alias("pos", "p"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("p.c").alias("cluster"),
            F.round(F.col("p.s"), 4).alias("cosine_sim"),
        )
    )


# =====================================================================
# Set ops / rollup / pivot / sessions / percentiles (SURVEY.md §2.4-2.6)
# =====================================================================


@query(
    "set_ops_users",
    """
    SELECT 'both' AS segment, count(*) AS n FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'view'
    )
    UNION ALL
    SELECT 'purchase_only' AS segment, count(*) AS n FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'view'
    )
    """,
    doc="O4 relational set ops (intersect / except) — compare_reports.py:193-197",
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    view = ev.where(F.col("event_type") == "view").select("user_id").distinct()
    both = purch.intersect(view).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("segment"), "n"
    )
    only = purch.subtract(view).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("purchase_only").alias("segment"), "n"
    )
    return both.unionByName(only)


@query(
    "rollup_docs",
    """
    SELECT lang, source, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
    doc="rollup aggregation (free in Spark; absent in the reference — "
    "SURVEY.md §2.4 'not present' list)",
)
def rollup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "pivot_event_types",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup
    FROM events GROUP BY user_id
    """,
    doc="pivot / conditional aggregation (A6 category-bucket analogue)",
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error", "signup"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "gap_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - lag(CAST(floor(epoch(ts)) AS BIGINT))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id,
             ts
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT) AS duration_sec
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="gap-based sessionization (30-min inactivity gap) — the guide's "
    "sessionization pattern; reference analogue A1",
)
def gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("sec", F.unix_timestamp("ts"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("sec").over(w)
    is_new = F.when(prev.isNull() | ((F.col("sec") - prev) > 1800), 1).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_id", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("sec") - F.min("sec")).alias("duration_sec"),
        )
    )


@query(
    "price_percentiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM orders GROUP BY o_orderpriority
    """,
    doc="exact percentiles (A8 quality-threshold analogue); approx variant "
    "is approx_percentile at scale",
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )


@query(
    "topn_slice",
    """
    SELECT lang,
           array_to_string(
             (list(CAST(doc_id AS VARCHAR) ORDER BY n_chars DESC, doc_id))[1:5],
             ',') AS top5_docs
    FROM documents GROUP BY lang
    """,
    doc="W7 top-N truncation via ordered collect + slice "
    "(compare_reports.py:203-204)",
)
def topn_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ordered = F.transform(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("n_chars")).alias("neg"),
                        F.col("doc_id").alias("doc_id"),
                    )
                )
            ),
            1,
            5,
        ),
        lambda s: s.doc_id.cast("string"),
    )
    return d.groupBy("lang").agg(F.array_join(ordered, ",").alias("top5_docs"))


@query(
    "chunk_sizing",
    """
    SELECT CAST(n_chars // 5000 + 1 AS BIGINT) AS num_chunks,
           count(*) AS n_docs,
           round(avg(n_chars * 1.0 / (n_chars // 5000 + 1)), 4) AS avg_chunk_chars
    FROM documents GROUP BY 1
    """,
    doc="A10 chunk-count sizing arithmetic (chunker.py:112,133)",
)
def chunk_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n_chunks = (F.floor(F.col("n_chars") / 5000) + 1).cast("long")
    return (
        d.withColumn("num_chunks", n_chunks)
        .groupBy("num_chunks")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("n_chars") / F.col("num_chunks")), 4).alias(
                "avg_chunk_chars"
            ),
        )
    )


# ---------------------------------------------------------------------
# Retired registry rows (round-5 consolidation): the two parity twins
# below were full DuckDB-oracled registry entries in rounds 2-4, but the
# driver's correctness file caps at 50 rows and the registry hit 51 —
# simhash_parity was silently dropped from CORRECTNESS_r04. Their
# assertions are pure cross-engine certifications (no operator surface
# of their own: minhash/simhash construction is already pair-level
# certified in tests/test_dedup_similarity.py), so they moved WHOLLY to
# pytest — tests/test_queries.py runs the identical Spark-vs-DuckDB
# comparison over RETIRED_PARITY every run. Every remaining REGISTRY
# entry now gets a driver row every round.
# ---------------------------------------------------------------------

RETIRED_PARITY: dict[str, Query] = {}


def retired_parity(name: str, sql: str | None, doc: str = ""):
    def deco(fn):
        RETIRED_PARITY[name] = Query(fn=fn, sql=sql, doc=doc)
        return fn

    return deco


@retired_parity(
    "minhash_parity",
    r"""
    WITH words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE doc_id < 100
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 2 + 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM words WHERE len(w) >= 3
    )
    SELECT doc_id,
           list_min(list_transform(shingles, s -> md5('0' || s))) AS sig0,
           list_min(list_transform(shingles, s -> md5('1' || s))) AS sig1,
           list_min(list_transform(shingles, s -> md5('2' || s))) AS sig2,
           list_min(list_transform(shingles, s -> md5('3' || s))) AS sig3
    FROM sh
    """,
    doc="cross-engine MinHash parity: signature = lexicographic min of "
    "seeded md5 over word-3-shingles — proves the minhash construction "
    "independent of engine hash functions",
)
def minhash_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 100) & (textstats.token_count(F.col("text")) >= 3)
    )
    sh = dedup.word_shingles(F.col("text"), 3)
    out = d.select(F.col("doc_id"), sh.alias("shingles"))

    def sig_col(seed: int):
        # NOTE: a default-arg lambda (lambda s, _seed=seed: ...) would be
        # inspected as a two-parameter higher-order function and receive
        # the array INDEX as its second argument — closure factory instead
        return F.array_min(
            F.transform(
                F.col("shingles"), lambda s: F.md5(F.concat(F.lit(str(seed)), s))
            )
        )

    for seed in range(4):
        out = out.withColumn(f"sig{seed}", sig_col(seed))
    return out.drop("shingles")


def _simhash_parity_sql(n_bits: int = 32) -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(ms, m -> "
        f"contains('13579bdf', substr(m, {b + 1}, 1)))) >= len(ms) "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )
    return rf"""
    WITH words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE doc_id < 100
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)),
               i -> w[i] || ' ' || w[i+1])) AS shingles
      FROM words WHERE len(w) >= 2
    ), ms AS (
      SELECT doc_id, list_transform(shingles, s -> md5(s)) AS ms FROM sh
    )
    SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash32 FROM ms
    """





@retired_parity(
    "simhash_parity",
    _simhash_parity_sql(),
    doc="cross-engine SimHash parity: 32-bit per-bit majority vote where "
    "bit b of a shingle = parity of hex digit b of md5(shingle) — proves "
    "the SimHash majority-vote construction (dedup.simhash_signatures' core) "
    "independent of engine hash functions, the simhash analogue of "
    "minhash_parity",
)
def simhash_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bits = 32
    d = _t(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 100) & (textstats.token_count(F.col("text")) >= 2)
    )
    sh = dedup.word_shingles(F.col("text"), 2)
    ms = F.transform(sh, lambda s: F.md5(s))
    base = d.select(F.col("doc_id"), ms.alias("ms"), F.size(ms).alias("n"))

    def bit_col(b: int) -> F.Column:
        # closure factory (see sig_col note above re: default-arg lambdas)
        ones = F.size(
            F.filter(
                F.col("ms"),
                lambda m: F.contains(F.lit("13579bdf"), F.substring(m, b + 1, 1)),
            )
        )
        return F.when(2 * ones >= F.col("n"), F.lit(1 << b)).otherwise(F.lit(0))

    sim = bit_col(0)
    for b in range(1, n_bits):
        sim = sim + bit_col(b)
    return base.select("doc_id", sim.cast("long").alias("simhash32"))


