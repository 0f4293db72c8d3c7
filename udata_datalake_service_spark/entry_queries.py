"""The driver-facing query catalog: every SURVEY §2 operator bound to the
synthetic testdata tables, each with a DuckDB-replayable ANSI-SQL oracle.

Cross-engine determinism rules (validated empirically — cosine dot products
are bitwise identical between Spark and DuckDB when both accumulate doubles
in list order):

- counts / min / max / string ops / md5: exact in both engines.
- SUM over doubles: cast to DECIMAL(18,2) inside the sum (exact decimal
  arithmetic in both), cast the result back to DOUBLE.
- AVG / STDDEV: round(…, 4).
- ratios & cosines: round(…, 6) (or 4), identical expression trees.
- timestamps in outputs: emitted as unix microseconds (BIGINT) to dodge
  datetime unit mismatches between arrow bridges.
- every ORDER BY feeding a LIMIT carries a full deterministic tie-break.
- computed integers are BIGINT on both sides.

Each Spark callable takes (spark, sf_dir) per the driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udata_datalake_service_spark.caching import adopted, settle
from udata_datalake_service_spark.functions.urls import DOMAIN_REGEX, domain_of
from udata_datalake_service_spark.functions.http import is_valid_status, split_content_type
from udata_datalake_service_spark.llm.dedup import (
    lsh_cap_scorecard,
    lsh_candidate_pairs,
    minhash_jaccard_estimate,
    minhash_signatures,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash_map,
)
from udata_datalake_service_spark.llm.multimodal import (
    extract_image_features,
    fake_media_from_documents,
    frame_sample_plan,
)
from udata_datalake_service_spark.llm.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_bucketed_topk,
)
from udata_datalake_service_spark.llm.text import (
    LANG_MARKERS,
    token_count,
    tokens,
)
from udata_datalake_service_spark.operators.core import (
    count_over_all,
    deterministic_sample,
    latest_per_key,
    pct_histogram,
    top_k_groups,
    top_n_per_key,
    union_tiers,
    upsert,
)
from udata_datalake_service_spark.operators.profile import profile_df
from udata_datalake_service_spark.plans.change_detection import _verdict
from udata_datalake_service_spark.plans.next_check import CHECK_DELAYS_HOURS


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from udata_datalake_service_spark.session import read_table

    return read_table(spark, sf_dir, name)


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read + round-robin repartition to full parallelism.

    The synthetic tables are single-row-group parquet files → 1-partition
    scans. For the compute-heavy per-row paths (tokenize/shingle/hash/dot)
    a ~1 MB shuffle buys N-way parallelism; on a real lake the scan itself
    is already split and this repartition would be dropped.
    """
    return _t(spark, sf_dir, name).repartition(spark.sparkContext.defaultParallelism)


def _us(col) -> F.Column:
    """timestamp(_ntz) → unix microseconds (engine-portable output)."""
    return F.unix_micros(col.cast("timestamp"))


def _dsum(col) -> F.Column:
    """Exact decimal sum emitted as double."""
    return F.sum(col.cast("decimal(18,2)")).cast("double")


# SQL fragments shared by the text oracles
_SQL_TOKS = "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x->x<>'')"


_CONTAM_K = 3  # k-gram size for the contamination/decontam evidence plane


def _sql_shingles(k: int) -> str:
    return (
        f"case when len(t) >= {k} then list_distinct(list_transform("
        f"range(1, len(t)-{k}+2), i -> array_to_string(t[i:i+{k}-1],' ')))"
        f" else [array_to_string(t,' ')] end"
    )


# =========================================================================
# Relational plane
# =========================================================================
def q_flagship_pricing_summary(spark, sf_dir):
    """A2/A9 flagship: grouped pricing summary over lineitem (the headline
    aggregate; exercises decimal-exact sums, conditional expressions)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp_ntz")
    )
    # multiply in exact decimal domain: casting a *computed* double product
    # to decimal rounds differently across engines (Spark casts via Java's
    # shortest-string repr, DuckDB via the binary value); casting the raw
    # 2-decimal gridpoint inputs is engine-stable.
    e_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    d_dec = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(e_dec * (F.lit(1).cast("decimal(18,2)") - d_dec))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_FLAGSHIP = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  ROUND(AVG(l_quantity), 4) AS avg_qty,
  ROUND(AVG(l_discount), 4) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_p1_point_lookup(spark, sf_dir):
    """P1 — point lookup by key with projection (db/resource.py:22-26)."""
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") == 42)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    )


_SQL_P1 = "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = 42"


def q_p3_exclusion_filter(spark, sf_dir):
    """P3 — conjunction of NOT LIKE exclusions (db/resource.py:116-129)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        ~F.col("o_orderpriority").like("1-%")
        & ~F.col("o_orderpriority").like("2-%")
        & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey", "o_orderpriority", "o_orderstatus")


_SQL_P3 = """
SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
WHERE o_orderpriority NOT LIKE '1-%' AND o_orderpriority NOT LIKE '2-%' AND o_orderstatus = 'F'
"""


def q_p4_date_cast_filter(spark, sf_dir):
    """P4 — ``created_at::date = $1`` (db/check.py:93)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.to_date("ts") == F.lit("2024-01-15")).select(
        "event_id", "event_type", _us(F.col("ts")).alias("ts_us")
    )


_SQL_P4 = """
SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
"""


def q_p5_json_extract(spark, sf_dir):
    """P5 — JSON field extraction (headers->>'k', analysis/resource.py:234-244)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", k.alias("k_val"))
        .filter(F.col("k_val") > 50)
    )


_SQL_P5 = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
"""


def q_p6_range_predicate(spark, sf_dir):
    """P6 — range predicates + casted comparison (cli.py:196-197)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20) & (F.col("l_discount") <= 0.05)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("l_extendedprice")).alias("sum_price"),
    )


_SQL_P6 = """
SELECT COUNT(*) AS n, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_discount <= 0.05
"""


def q_p9_time_window(spark, sf_dir):
    """P9 — ``created_at >= now() - PERIOD`` (crawl/helpers.py:80-93); the
    anchor is max(ts) so the query is reproducible."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("__mx") - F.expr("INTERVAL 7 DAYS"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_P9 = """
SELECT event_type, COUNT(*) AS n FROM events
WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
GROUP BY event_type
"""


def q_j1_current_state_join(spark, sf_dir):
    """J1 — current-state equi-join, small side broadcast (db/check.py:20-42)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


_SQL_J1 = """
SELECT o_orderkey, c_custkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
"""


def q_j2_history_join(spark, sf_dir):
    """J2 — full history of one entity through a join chain (db/check.py:76-84)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") == 7)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


_SQL_J2 = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_custkey = 7
"""


def q_j4_orphan_left_join(spark, sf_dir):
    """J4 — left join + agg subquery, null-extension as anti-join
    (cli.py:297-308): customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o_agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("max_ok"))
    )
    return (
        c.join(o_agg, c.c_custkey == o_agg.o_custkey, "left")
        .filter(F.col("max_ok").isNull())
        .select("c_custkey", "c_name")
    )


_SQL_J4 = """
SELECT c_custkey, c_name
FROM customer LEFT JOIN (SELECT o_custkey, MAX(o_orderkey) AS max_ok FROM orders GROUP BY o_custkey) o
ON c_custkey = o.o_custkey
WHERE max_ok IS NULL
"""


def q_j5_latest_per_key(spark, sf_dir):
    """J5/O2 — newest row per key (dedup window idiom replacing the
    reference's self theta-join migration)."""
    ev = _t(spark, sf_dir, "events")
    latest = latest_per_key(
        ev, ["user_id"], [F.desc("ts"), F.desc("event_id")]
    )
    return latest.select("user_id", "event_id", _us(F.col("ts")).alias("ts_us"))


_SQL_J5 = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM (
  SELECT user_id, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


_SQL_A1 = """
SELECT event_type AS value, COUNT(*) AS count FROM events
GROUP BY event_type ORDER BY count DESC, value ASC LIMIT 20
"""


_SQL_A1J = """
WITH g AS (
  SELECT json_extract_string(props, '$.k') AS value, COUNT(*) AS count
  FROM events GROUP BY json_extract_string(props, '$.k')
)
SELECT * FROM g ORDER BY count DESC, value ASC LIMIT 20
"""


def q_a2_conditional_agg(spark, sf_dir):
    """A2 — SUM(CASE WHEN …) pivots (routes/status.py:12-31)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_f"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_o"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
    )


_SQL_A2 = """
SELECT COUNT(*) AS total,
  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
  COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big
FROM orders
"""


def q_a3_coalesce_group(spark, sf_dir):
    """A3 — GROUP BY COALESCE(status,'NULL') (routes/status.py:49-53)."""
    ev = _t(spark, sf_dir, "events")
    g = F.coalesce(F.nullif(F.col("event_type"), F.lit("click")), F.lit("NULL"))
    return ev.groupBy(g.alias("status")).agg(F.count(F.lit(1)).alias("count"))


_SQL_A3 = """
SELECT COALESCE(NULLIF(event_type, 'click'), 'NULL') AS status, COUNT(*) AS count
FROM events GROUP BY 1
"""


def q_a4_pct_histogram(spark, sf_dir):
    """A4 — histogram + percentage over total (routes/status.py:106-139)."""
    o = _t(spark, sf_dir, "orders")
    return pct_histogram(o, "o_orderstatus")


_SQL_A4 = """
SELECT o_orderstatus AS value, COUNT(*) AS count,
  ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 4) AS pct
FROM orders GROUP BY o_orderstatus
"""


def q_a5_st2_backoff_table(spark, sf_dir):
    """A5+ST2 — sliding-window rate limiting per key: events in the trailing
    3 days per user vs a threshold, plus the 429-analogue flag
    (crawl/helpers.py:66-139 on the events stand-in)."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    recent = ev.crossJoin(F.broadcast(mx)).filter(
        F.col("ts") >= F.col("__mx") - F.expr("INTERVAL 3 DAYS")
    )
    return recent.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_recent"),
        (F.count_if(F.col("event_type") == "error") > 0).alias("saw_error"),
        (
            (F.count(F.lit(1)) >= 5)
            | (F.count_if(F.col("event_type") == "error") > 0)
        ).alias("backoff"),
    )


_SQL_A5 = """
SELECT user_id, COUNT(*) AS n_recent,
  COUNT(*) FILTER (WHERE event_type = 'error') > 0 AS saw_error,
  (COUNT(*) >= 5 OR COUNT(*) FILTER (WHERE event_type = 'error') > 0) AS backoff
FROM events
WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 3 DAY
GROUP BY user_id
"""


def q_a6_max_booland(spark, sf_dir):
    """A6 — MAX + BOOL_AND per group (cli.py:300-303)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max("o_orderkey").alias("max_orderkey"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_above_1000"),
    )


_SQL_A6 = """
SELECT o_custkey, MAX(o_orderkey) AS max_orderkey, BOOL_AND(o_totalprice > 1000) AS all_above_1000
FROM orders GROUP BY o_custkey
"""


def q_a7_count_over_all(spark, sf_dir):
    """A7 — count(*) OVER () alongside rows."""
    n = _t(spark, sf_dir, "nation")
    return count_over_all(n.select("n_nationkey", "n_name"), "total")


_SQL_A7 = "SELECT n_nationkey, n_name, COUNT(*) OVER () AS total FROM nation"


_SQL_A9 = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column, COUNT({c}) AS n, COUNT(*) FILTER (WHERE {c} IS NULL) AS nulls,
  COUNT(DISTINCT {c}) AS nb_distinct,
  ROUND(CAST(MIN({c}) AS DOUBLE), 4) AS min_v, ROUND(CAST(MAX({c}) AS DOUBLE), 4) AS max_v,
  ROUND(AVG({c}), 4) AS mean_v, ROUND(STDDEV({c}), 4) AS std_v
FROM lineitem"""
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
)


def q_o1_top2_per_key(spark, sf_dir):
    """O1 — top-2 history probe per key (current vs previous check,
    analysis/resource.py:234-247)."""
    ev = _t(spark, sf_dir, "events")
    top2 = top_n_per_key(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")], 2)
    return top2.select("user_id", "event_id", "rn", _us(F.col("ts")).alias("ts_us"))


_SQL_O1 = """
SELECT user_id, event_id, rn, epoch_us(ts) AS ts_us FROM (
  SELECT user_id, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 2
"""


def q_o3_deterministic_sample(spark, sf_dir):
    """O3 — batch sampling; ORDER BY random() re-expressed as md5-keyed
    pseudo-random order (reproducible + TakeOrderedAndProject at scale)."""
    o = _t(spark, sf_dir, "orders")
    return deterministic_sample(o, 40, ["o_orderkey"], seed="s0").select("o_orderkey")


_SQL_O3 = """
SELECT o_orderkey FROM orders
ORDER BY md5('s0' || '|' || CAST(o_orderkey AS VARCHAR)) LIMIT 40
"""


def q_u1_union_tiers(spark, sf_dir):
    """U1 — disjoint tier union (crawl/select_batch.py:56-89)."""
    o = _t(spark, sf_dir, "orders")
    t1 = o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn("tier", F.lit("priority"))
    t2 = o.filter(F.col("o_orderpriority") == "2-HIGH").withColumn("tier", F.lit("high"))
    t3 = o.filter(F.col("o_orderpriority") == "5-LOW").withColumn("tier", F.lit("low"))
    return union_tiers(t1, t2, t3).select("o_orderkey", "tier")


_SQL_U1 = """
SELECT o_orderkey, 'priority' AS tier FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL SELECT o_orderkey, 'high' FROM orders WHERE o_orderpriority = '2-HIGH'
UNION ALL SELECT o_orderkey, 'low' FROM orders WHERE o_orderpriority = '5-LOW'
"""


def q_u2_upsert_merge(spark, sf_dir):
    """U2 — INSERT..ON CONFLICT DO UPDATE as a full-outer merge
    (db/resource.py:43-53 → Delta MERGE semantics)."""
    c = _t(spark, sf_dir, "customer")
    updated = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_name", F.lit("UPDATED"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
    )
    inserted = c.filter(F.col("c_custkey") % 25 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("NEW").alias("c_name"),
        F.col("c_nationkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    updates = updated.unionByName(inserted)
    return upsert(c, updates, key="c_custkey")


_SQL_U2 = """
WITH u AS (
  SELECT c_custkey, 'UPDATED' AS c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW', c_nationkey, 0.0, 'NEW' FROM customer WHERE c_custkey % 25 = 0
)
SELECT COALESCE(u.c_custkey, c.c_custkey) AS c_custkey,
  COALESCE(u.c_name, c.c_name) AS c_name,
  COALESCE(u.c_nationkey, c.c_nationkey) AS c_nationkey,
  COALESCE(u.c_acctbal, c.c_acctbal) AS c_acctbal,
  COALESCE(u.c_mktsegment, c.c_mktsegment) AS c_mktsegment
FROM customer c FULL OUTER JOIN u ON c.c_custkey = u.c_custkey
"""


def q_st3_next_check_ladder(spark, sf_dir):
    """ST3 — adaptive re-check ladder (crawl/calculate_next_check.py:6-44)
    applied over consecutive events: changed value → earliest rung, else
    first rung ≥ hours since previous event."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts").over(w)
    prev_val = F.lag("value").over(w)
    age_h = (_us(F.col("ts")) - _us(prev_ts)) / F.lit(3600000000.0)
    changed = F.col("value") != prev_val

    delays = CHECK_DELAYS_HOURS
    ladder = F.lit(delays[-1])
    for d in reversed(delays[:-1]):
        ladder = F.when(age_h <= F.lit(float(d)), F.lit(d)).otherwise(ladder)
    chosen = F.when(changed | prev_ts.isNull(), F.lit(delays[0])).otherwise(ladder)
    return ev.select(
        "event_id",
        (_us(F.col("ts")) + chosen.cast("bigint") * F.lit(3600000000).cast("bigint")).alias(
            "next_check_us"
        ),
    )


_SQL_ST3 = """
WITH x AS (
  SELECT event_id, ts, value,
    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts,
    LAG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_val
  FROM events
), y AS (
  SELECT event_id, ts,
    (epoch_us(ts) - epoch_us(prev_ts)) / 3600000000.0 AS age_h,
    (value <> prev_val) AS changed, prev_ts
  FROM x
)
SELECT event_id, epoch_us(ts) + CAST(CASE
    WHEN changed OR prev_ts IS NULL THEN 12
    WHEN age_h <= 12.0 THEN 12
    WHEN age_h <= 24.0 THEN 24
    WHEN age_h <= 168.0 THEN 168
    ELSE 720 END AS BIGINT) * 3600000000 AS next_check_us
FROM y
"""


def q_st4_change_detection(spark, sf_dir):
    """ST4 — the change-detection cascade as a lag window over events:
    method 1 = JSON payload delta, method 2 = value delta; first conclusive
    verdict wins (analysis/resource.py:216-267 re-expressed set-oriented)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    k = F.get_json_object("props", "$.k").cast("long")
    ev = ev.withColumn("__k", k)
    prev_k = F.lag("__k").over(w)
    prev_v = F.lag("value").over(w)
    v1 = _verdict(F.col("__k"), prev_k)
    v2 = _verdict(F.col("value"), prev_v)
    status = F.when(v1 != "NO_GUESS", v1).otherwise(
        F.when(v2 != "NO_GUESS", v2).otherwise(F.lit("NO_GUESS"))
    )
    method = F.when(v1 != "NO_GUESS", F.lit("payload")).otherwise(
        F.when(v2 != "NO_GUESS", F.lit("value"))
    )
    return ev.select(
        "event_id", status.alias("change_status"), method.alias("change_method")
    )


_SQL_ST4 = """
WITH x AS (
  SELECT event_id,
    CAST(json_extract_string(props,'$.k') AS BIGINT) AS k,
    value,
    LAG(CAST(json_extract_string(props,'$.k') AS BIGINT)) OVER w AS prev_k,
    LAG(value) OVER w AS prev_v
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), v AS (
  SELECT event_id,
    CASE WHEN k IS NULL OR prev_k IS NULL THEN 'NO_GUESS'
         WHEN k <> prev_k THEN 'HAS_CHANGED' ELSE 'HAS_NOT_CHANGED' END AS v1,
    CASE WHEN value IS NULL OR prev_v IS NULL THEN 'NO_GUESS'
         WHEN value <> prev_v THEN 'HAS_CHANGED' ELSE 'HAS_NOT_CHANGED' END AS v2
  FROM x
)
SELECT event_id,
  CASE WHEN v1 <> 'NO_GUESS' THEN v1 WHEN v2 <> 'NO_GUESS' THEN v2 ELSE 'NO_GUESS' END AS change_status,
  CASE WHEN v1 <> 'NO_GUESS' THEN 'payload' WHEN v2 <> 'NO_GUESS' THEN 'value' ELSE NULL END AS change_method
FROM v
"""


def q_p7_like_contains(spark, sf_dir):
    """P7 — LIKE '%x%' / contains / <> predicates (cli.py:195,204-218)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("%AND%")
        & F.col("p_name").contains("a")
        & (F.col("p_brand") != "Brand#45")
    ).select("p_partkey", "p_name", "p_type", "p_brand")


_SQL_P7 = """
SELECT p_partkey, p_name, p_type, p_brand FROM part
WHERE p_type LIKE '%AND%' AND p_name LIKE '%a%' AND p_brand <> 'Brand#45'
"""


def q_p8_null_bool_predicates(spark, sf_dir):
    """P8 — IS NULL / boolean-column predicates (crawl/select_batch.py:47-89:
    ``last_check IS NULL``, ``priority = True``). The nullable column is
    derived (the synthetic tables have no NULLs)."""
    ev = _t(spark, sf_dir, "events")
    last_check = F.when(F.col("event_id") % 7 != 0, F.col("event_id"))
    priority = F.col("event_type") == "signup"
    return (
        ev.select("event_id", last_check.alias("last_check"), priority.alias("priority"))
        .filter(F.col("last_check").isNull() | F.col("priority"))
    )


_SQL_P8 = """
SELECT event_id,
  CASE WHEN event_id % 7 <> 0 THEN event_id END AS last_check,
  event_type = 'signup' AS priority
FROM events
WHERE (event_id % 7 = 0) OR event_type = 'signup'
"""


def q_p10_retention_survivors(spark, sf_dir):
    """P10/ST7 — retention purge: rows that survive a 30-day cutoff
    (cli.py:272-283), anchored at max(ts) for reproducibility. On a
    date-partitioned lake the purge is pure partition drops."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("__mx") - F.expr("INTERVAL 30 DAYS"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


_SQL_P10 = """
SELECT event_type, COUNT(*) AS n_kept FROM events
WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 30 DAY
GROUP BY event_type
"""


def q_a8_purge_returning_count(spark, sf_dir):
    """A8 — WITH deleted AS (DELETE … RETURNING *) SELECT count(*)
    (cli.py:279-281): count what the purge would remove."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") < F.col("__mx") - F.expr("INTERVAL 30 DAYS"))
        .agg(F.count(F.lit(1)).alias("purged"))
    )


_SQL_A8 = """
SELECT COUNT(*) AS purged FROM events
WHERE ts < (SELECT MAX(ts) FROM events) - INTERVAL 30 DAY
"""


def _catalog_from_orders(spark, sf_dir):
    """Catalog/checks stand-ins for the crawl-plane queries, derived
    deterministically from orders."""
    o = _t(spark, sf_dir, "orders")
    catalog = o.select(
        F.col("o_orderkey").cast("string").alias("resource_id"),
        F.concat(F.lit("https://data.example.org/r/"), F.col("o_orderkey")).alias("url"),
        (F.col("o_orderstatus") == "F").alias("deleted"),
        (F.col("o_orderpriority") == "1-URGENT").alias("priority"),
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_orderkey")).alias("last_check"),
        F.lit(None).cast("string").alias("status"),
    )
    checks = o.select(
        F.col("o_orderkey").alias("id"),
        F.when(
            F.col("o_orderkey") % 5 != 0,
            F.col("o_orderdate") + F.expr("INTERVAL 12 HOURS"),
        ).alias("next_check_at"),
    )
    return catalog, checks


def q_o4_csv_sample(spark, sf_dir):
    """O4 — the csv-sample report (cli.py:181-219): latest-check join,
    content-type/status/size predicate stack, ODS + own-domain exclusions,
    two deterministically-sampled strata unioned."""
    from udata_datalake_service_spark.plans.csv_sample import csv_sample

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    catalog = o.select(
        k.cast("string").alias("resource_id"),
        F.concat(F.lit("ds-"), F.col("o_custkey")).alias("dataset_id"),
        k.alias("last_check"),
    )
    checks = o.select(
        k.alias("id"),
        F.when(
            k % 7 == 0,
            F.concat(F.lit("https://ods.example.org/explore/dataset/"), k),
        )
        .otherwise(F.concat(F.lit("https://files.example.org/r/"), k))
        .alias("url"),
        F.when(k % 5 == 0, F.lit("static.data.gouv.fr"))
        .otherwise(F.concat(F.lit("ext"), (k % 50), F.lit(".example.org")))
        .alias("domain"),
        (F.lit(200) + k % 300).cast("int").alias("status"),
        F.create_map(
            F.lit("content-type"),
            F.when(k % 3 == 0, F.lit("text/csv"))
            .when(k % 3 == 1, F.lit("application/csv; charset=utf-8"))
            .otherwise(F.lit("application/json")),
            F.lit("content-length"),
            (k % 200000).cast("string"),
        ).alias("headers"),
    )
    return csv_sample(catalog, checks, size=100, max_size=150_000, seed="o4")


_SQL_O4 = """
WITH base AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS resource_id,
    'ds-' || o_custkey AS dataset_id,
    CASE WHEN o_orderkey % 7 = 0
         THEN 'https://ods.example.org/explore/dataset/' || o_orderkey
         ELSE 'https://files.example.org/r/' || o_orderkey END AS url,
    CASE WHEN o_orderkey % 5 = 0 THEN 'static.data.gouv.fr'
         ELSE 'ext' || (o_orderkey % 50) || '.example.org' END AS domain,
    200 + o_orderkey % 300 AS status,
    CASE o_orderkey % 3 WHEN 0 THEN 'text/csv'
         WHEN 1 THEN 'application/csv; charset=utf-8'
         ELSE 'application/json' END AS content_type,
    o_orderkey % 200000 AS content_length
  FROM orders
),
f AS (
  SELECT * FROM base
  WHERE content_type LIKE '%csv%' AND status >= 200 AND status < 400
    AND content_length <= 150000
)
SELECT resource_id, dataset_id, url, content_type, content_length FROM (
  SELECT * FROM f
  WHERE url NOT LIKE '%/explore/dataset/%' AND url NOT LIKE '%/api/datasets/1.0/%'
    AND domain <> 'static.data.gouv.fr'
  ORDER BY md5('o4' || resource_id) LIMIT 50
)
UNION ALL
SELECT resource_id, dataset_id, url, content_type, content_length FROM (
  SELECT * FROM f WHERE domain = 'static.data.gouv.fr'
  ORDER BY md5('o4' || resource_id) LIMIT 50
)
"""


def q_j3_u7_batch_select_claim(spark, sf_dir):
    """J3+O3/O4+U1+U7 — the full crawl batch selection pipeline: tiered
    sampling behind the exclusion clause, batch-selection join on
    last_check, deterministic fill in tier order, then the claim update
    (crawl/select_batch.py:9-91). Returns the claimed rows."""
    from udata_datalake_service_spark.plans.select_batch import claim_batch, select_batch

    catalog, checks = _catalog_from_orders(spark, sf_dir)
    now = F.lit("2024-06-01 00:00:00").cast("timestamp")
    batch = select_batch(catalog, checks, batch_size=40, now=now, seed="s0")
    claimed = claim_batch(catalog, batch).filter(F.col("status") == "CRAWLING_URL")
    return claimed.select("resource_id", "url", "priority", "status")


_SQL_J3U7 = """
WITH cat AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS resource_id,
         'https://data.example.org/r/' || o_orderkey AS url,
         (o_orderstatus = 'F') AS deleted,
         (o_orderpriority = '1-URGENT') AS priority,
         CASE WHEN o_orderkey % 3 <> 0 THEN o_orderkey END AS last_check
  FROM orders
), chk AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_orderkey % 5 <> 0 THEN o_orderdate + INTERVAL 12 HOUR END AS next_check_at
  FROM orders
), live AS (
  SELECT *, md5('s0|' || resource_id) AS rk FROM cat
  WHERE NOT deleted AND url NOT LIKE '%format=shp%'
), t1 AS (
  SELECT resource_id, url, priority, 0 AS tier_rank, rk FROM live WHERE priority
  ORDER BY rk LIMIT 40
), t2 AS (
  SELECT resource_id, url, priority, 1 AS tier_rank, rk FROM live
  WHERE NOT priority AND last_check IS NULL ORDER BY rk LIMIT 40
), t3 AS (
  SELECT l.resource_id, l.url, l.priority, 2 AS tier_rank, l.rk
  FROM live l JOIN chk ON l.last_check = chk.id
  WHERE NOT l.priority AND l.last_check IS NOT NULL
    AND (chk.next_check_at IS NULL OR chk.next_check_at <= TIMESTAMP '2024-06-01 00:00:00')
  ORDER BY l.rk LIMIT 40
), batch AS (
  SELECT resource_id, url, priority FROM (
    SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
  ) ORDER BY tier_rank, rk LIMIT 40
)
SELECT resource_id, url, priority, 'CRAWLING_URL' AS status FROM batch
"""


def q_o5_ordered_scan(spark, sf_dir):
    """O5 — full ordered history scan of one key (db/check.py:48-53); the
    rank column encodes the ordering so the order-insensitive hash still
    validates it."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") == 3)
    w = Window.partitionBy().orderBy(F.desc("ts"), F.desc("event_id"))
    return ev.select(
        "event_id",
        _us(F.col("ts")).alias("ts_us"),
        F.row_number().over(w).alias("pos"),
    )


_SQL_O5 = """
SELECT event_id, epoch_us(ts) AS ts_us,
  ROW_NUMBER() OVER (ORDER BY ts DESC, event_id DESC) AS pos
FROM events WHERE user_id = 3
"""


def q_u3_snapshot_diff(spark, sf_dir):
    """U3 — full-snapshot diff load (cli.py:86-116): one full-outer pass
    marks absentees deleted, refreshes survivors, inserts newcomers —
    Delta's WHEN NOT MATCHED BY SOURCE pattern."""
    from udata_datalake_service_spark.operators.core import snapshot_diff_load

    c = _t(spark, sf_dir, "customer")
    target = c.withColumn("deleted", F.lit(False))
    snapshot = (
        c.filter(F.col("c_custkey") % 2 == 1)
        .select(
            "c_custkey",
            F.concat(F.lit("refreshed-"), F.col("c_name")).alias("c_name"),
            "c_acctbal",
        )
    )
    out = snapshot_diff_load(target, snapshot, key="c_custkey")
    return out.select("c_custkey", "c_name", "c_acctbal", "deleted")


_SQL_U3 = """
WITH snap AS (
  SELECT c_custkey, 'refreshed-' || c_name AS c_name, c_acctbal
  FROM customer WHERE c_custkey % 2 = 1
)
SELECT c.c_custkey,
  COALESCE(s.c_name, c.c_name) AS c_name,
  COALESCE(s.c_acctbal, c.c_acctbal) AS c_acctbal,
  (s.c_custkey IS NULL) AS deleted
FROM customer c LEFT JOIN snap s ON c.c_custkey = s.c_custkey
"""


def q_u45_point_updates(spark, sf_dir):
    """U4+U5 — point update w/ RETURNING and soft delete
    (db/resource.py:56-69,106-114): rename one row, soft-delete every
    100th, return the touched rows."""
    c = _t(spark, sf_dir, "customer")
    updated = c.withColumn(
        "c_name",
        F.when(F.col("c_custkey") == 42, F.lit("RENAMED")).otherwise(F.col("c_name")),
    ).withColumn("deleted", F.col("c_custkey") % 100 == 0)
    return updated.filter(
        (F.col("c_custkey") == 42) | F.col("deleted")
    ).select("c_custkey", "c_name", "deleted")


_SQL_U45 = """
SELECT c_custkey,
  CASE WHEN c_custkey = 42 THEN 'RENAMED' ELSE c_name END AS c_name,
  (c_custkey % 100 = 0) AS deleted
FROM customer
WHERE c_custkey = 42 OR c_custkey % 100 = 0
"""


def q_u6_hard_delete(spark, sf_dir):
    """U6 — hard delete by key set (db/check.py:129-133) as a left-anti
    join against the doomed keys (broadcast — the delete batch is small)."""
    c = _t(spark, sf_dir, "customer")
    doomed = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    kept = c.join(F.broadcast(doomed), on="c_custkey", how="left_anti")
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


_SQL_U6 = """
SELECT COUNT(*) AS n_kept, MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
"""


def q_j6_status_dashboard(spark, sf_dir):
    """J6/A2 — dashboard join + conditional aggregation
    (routes/status.py:23-31,89-115): join current state, pivot counts."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cur = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
    return cur.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.count_if(
            (F.col("o_orderstatus") == "F") & (F.col("c_mktsegment") == "BUILDING")
        ).alias("n_finished_building"),
        F.count_if(F.col("c_acctbal") < 0).alias("n_negative_bal"),
    )


_SQL_J6 = """
SELECT COUNT(*) AS total,
  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
  COUNT(*) FILTER (WHERE o_orderstatus = 'F' AND c_mktsegment = 'BUILDING') AS n_finished_building,
  COUNT(*) FILTER (WHERE c_acctbal < 0) AS n_negative_bal
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_st5_check_delta_trigger(spark, sf_dir):
    """ST5 — check-delta notification derivation
    (crawl/preprocess_check_data.py:69-105): per key, fire on first
    event / type change / value sign flip; first matching reason wins."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_type = F.lag("event_type").over(w)
    prev_val = F.lag("value").over(w)
    reason = (
        F.when(prev_type.isNull(), F.lit("first_check"))
        .when(F.col("event_type") != prev_type, F.lit("status_changed"))
        .when(
            (F.col("value") >= 200) != (prev_val >= 200), F.lit("threshold_crossed")
        )
    )
    return (
        ev.select("event_id", "user_id", reason.alias("reason"))
        .filter(F.col("reason").isNotNull())
    )


_SQL_ST5 = """
WITH x AS (
  SELECT event_id, user_id, event_type, value,
    LAG(event_type) OVER w AS prev_type,
    LAG(value) OVER w AS prev_val
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT event_id, user_id,
  CASE WHEN prev_type IS NULL THEN 'first_check'
       WHEN event_type <> prev_type THEN 'status_changed'
       WHEN (value >= 200) <> (prev_val >= 200) THEN 'threshold_crossed'
  END AS reason
FROM x
WHERE prev_type IS NULL OR event_type <> prev_type
   OR (value >= 200) <> (prev_val >= 200)
"""


_F3_INPUTS = ("1 020,20", "2.0", "oui", "", "n/a", "-3")


def q_f3_smart_cast(spark, sf_dir):
    """F3 — smart_cast golden semantics at scale: French number format,
    float-string-to-int, locale booleans, empty→NULL, failsafe→NULL
    (analysis/csv.py:202-219; goldens tests/test_analysis_csv.py:89-123).
    The oracle states the *expected values* directly, so this validates
    behavior, not implementation."""
    from udata_datalake_service_spark.functions.casting import smart_cast

    ev = _t(spark, sf_dir, "events")
    raw = F.element_at(F.array(*[F.lit(s) for s in _F3_INPUTS]), (F.col("event_id") % 6 + 1).cast("int"))
    return ev.select(
        "event_id",
        raw.alias("raw"),
        smart_cast("float", raw).alias("as_float"),
        smart_cast("int", raw).alias("as_int"),
        smart_cast("bool", raw).alias("as_bool"),
    )


_SQL_F3 = """
SELECT event_id,
  CASE event_id % 6 WHEN 0 THEN '1 020,20' WHEN 1 THEN '2.0' WHEN 2 THEN 'oui'
                    WHEN 3 THEN '' WHEN 4 THEN 'n/a' ELSE '-3' END AS raw,
  CAST(CASE event_id % 6 WHEN 0 THEN 1020.2 WHEN 1 THEN 2.0 WHEN 5 THEN -3.0
                    ELSE NULL END AS DOUBLE) AS as_float,
  CASE event_id % 6 WHEN 0 THEN 1020 WHEN 1 THEN 2 WHEN 5 THEN -3
                    ELSE NULL END AS as_int,
  CASE event_id % 6 WHEN 2 THEN TRUE ELSE NULL END AS as_bool
FROM events
"""


_F4_INPUTS = (
    "2024-01-15",
    "15/01/2024",
    "2024-01-15T10:30:00",
    "31 décembre 2022",
    "31st december 2022",
    "31 de diciembre de 2022",
    "31. Dezember 2022",
    "1º de enero de 2023",
)
_F4_EXPECT_US = (
    1705276800000000,  # 2024-01-15 UTC
    1705276800000000,
    1705314600000000,  # 2024-01-15T10:30:00
    1672444800000000,  # 2022-12-31
    1672444800000000,
    1672444800000000,  # es
    1672444800000000,  # de
    1672531200000000,  # 2023-01-01 es ordinal
)


def q_f4_date_parse_multi(spark, sf_dir):
    """F4 — multi-format date parsing incl. the verbal FR/EN/ES/DE
    fallback (analysis/helpers.py:13-27; goldens test_analysis_csv.py:126-168;
    ES/DE ride dateparser's locale tables in the reference).
    The JVM pattern chain handles machine formats; only leftovers reach the
    Arrow-batched pandas UDF. Oracle = expected timestamps as literals."""
    from udata_datalake_service_spark.functions.dates import parse_datetime_multi

    ev = _t(spark, sf_dir, "events")
    raw = F.element_at(
        F.array(*[F.lit(s) for s in _F4_INPUTS]), (F.col("event_id") % 8 + 1).cast("int")
    )
    return ev.select(
        "event_id",
        raw.alias("raw"),
        F.unix_micros(parse_datetime_multi(raw)).alias("parsed_us"),
    )


_SQL_F4 = f"""
SELECT event_id,
  CASE event_id % 8 WHEN 0 THEN '{_F4_INPUTS[0]}' WHEN 1 THEN '{_F4_INPUTS[1]}'
                    WHEN 2 THEN '{_F4_INPUTS[2]}' WHEN 3 THEN '{_F4_INPUTS[3]}'
                    WHEN 4 THEN '{_F4_INPUTS[4]}' WHEN 5 THEN '{_F4_INPUTS[5]}'
                    WHEN 6 THEN '{_F4_INPUTS[6]}'
                    ELSE '{_F4_INPUTS[7]}' END AS raw,
  CASE event_id % 8 WHEN 0 THEN {_F4_EXPECT_US[0]} WHEN 1 THEN {_F4_EXPECT_US[1]}
                    WHEN 2 THEN {_F4_EXPECT_US[2]} WHEN 3 THEN {_F4_EXPECT_US[3]}
                    WHEN 4 THEN {_F4_EXPECT_US[4]} WHEN 5 THEN {_F4_EXPECT_US[5]}
                    WHEN 6 THEN {_F4_EXPECT_US[6]}
                    ELSE {_F4_EXPECT_US[7]} END AS parsed_us
FROM events
"""


_SQL_A9T = """
(SELECT CAST(event_type AS VARCHAR) AS value, COUNT(*) AS count, 'event_type' AS column
 FROM events GROUP BY event_type ORDER BY count DESC, value ASC LIMIT 10)
UNION ALL
(SELECT CAST(user_id AS VARCHAR), COUNT(*), 'user_id'
 FROM events GROUP BY user_id ORDER BY COUNT(*) DESC, CAST(user_id AS VARCHAR) ASC LIMIT 10)
"""


_SQL_DD_NGRAM_MAXDF = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh0 AS (SELECT doc_id AS id, unnest({_sql_shingles(2)}) AS s FROM x),
keep AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 100),
sh AS (SELECT id, sh0.s FROM sh0 JOIN keep ON sh0.s = keep.s),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
)
SELECT id_a, id_b,
  ROUND(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.35
"""


def _gen_ingest_csv(sf_dir: str) -> str:
    """Deterministic ';'-separated French-locale CSV derived from the
    documents table — the ingest fixture for the S3/S6/K-plane queries.
    Columns: int id, string lang, float with decimal comma, dd/MM/yyyy date.
    """
    import hashlib
    import os
    from datetime import date, timedelta

    import pyarrow.parquet as pq

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"/tmp/spark_hydra_ingest_{tag}.csv"
    if os.path.exists(path):
        return path
    rows = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "n_chars"]
    ).to_pylist()
    rows.sort(key=lambda r: r["doc_id"])
    with open(path + ".tmp", "w", encoding="utf-8") as fh:
        fh.write("doc_id;langue;montant;maj\n")
        for r in rows[:400]:
            amount = f"{r['n_chars'] // 2},{r['doc_id'] % 10}"
            d = date(2024, 1, 1) + timedelta(days=r["doc_id"] % 300)
            fh.write(f"{r['doc_id']};{r['lang']};{amount};{d.strftime('%d/%m/%Y')}\n")
    os.replace(path + ".tmp", path)
    return path


_SQL_INGEST_EXPECTED = """
SELECT doc_id,
  lang AS langue,
  CAST(CAST(n_chars // 2 AS VARCHAR) || '.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE) AS montant,
  CAST(DATE '2024-01-01' + INTERVAL (doc_id % 300) DAY AS DATE) AS maj
FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 400)
"""


def q_s6_csv_ingest_inference(spark, sf_dir):
    """S3+S6+F3+F4 end-to-end: sniff encoding/separator/header, distributed
    type vote over an all-strings read, smart_cast to the inferred schema
    (int / string / French-decimal float / dd-MM-yyyy date). The oracle
    states the expected typed values from the source table — the whole
    ingest pipeline must reproduce them."""
    from udata_datalake_service_spark.sources.inference import inspect_csv

    typed, insp = inspect_csv(spark, _gen_ingest_csv(sf_dir))
    assert insp.separator == ";" and insp.header_row_idx == 0
    return typed.select(
        "doc_id", "langue", "montant", F.col("maj").cast("date").alias("maj")
    )


def q_k_lake_roundtrip(spark, sf_dir):
    """K1+K2+K4+K5+K7 — the converted-table sink: write the typed frame as
    the md5(url)-named lake table (sorted on the requested index column for
    row-group stat skipping), append the tables_index registry row, then
    read both back. The roundtrip must preserve every typed value."""
    import hashlib
    import shutil

    from udata_datalake_service_spark.sinks.lake import Lake
    from udata_datalake_service_spark.sources.inference import inspect_csv

    typed, insp = inspect_csv(spark, _gen_ingest_csv(sf_dir))
    url = "https://data.example.org/ingest.csv"
    name = hashlib.md5(url.encode()).hexdigest()

    # fixed per-sf path, recreated per run (no tempdir leak, registry can't
    # accumulate appends across invocations)
    root = f"/tmp/spark_hydra_lake_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    shutil.rmtree(root, ignore_errors=True)
    lake = Lake(spark, root)
    lake.write_table(
        typed.drop("__id"),
        name,
        index_columns=["doc_id"],
        min_lines_for_parquet=200,
        expected_rows=insp.total_lines,
    )
    lake.register(name, insp.to_dict(), resource_id="res-1", url=url)

    back = lake.read_table(name)
    reg = (
        lake.registry()
        .filter(F.col("parsing_table") == name)
        .select("parsing_table", F.col("url").alias("resource_url"))
    )
    return back.select(
        "doc_id", "langue", "montant", F.col("maj").cast("date").alias("maj")
    ).crossJoin(F.broadcast(reg))


_SQL_K_LAKE = f"""
SELECT x.*, md5('https://data.example.org/ingest.csv') AS parsing_table,
       'https://data.example.org/ingest.csv' AS resource_url
FROM ({_SQL_INGEST_EXPECTED}) x
"""


def q_s5_catalog_load(spark, sf_dir):
    """S5 — national catalog CSV load (cli.py:89-116): ';' dialect with
    quoted separators, doubled quotes, and quoted newlines (multiLine),
    plus the archived-dataset skip. The query GENERATES the catalog
    export deterministically from orders (archived ⇔ o_orderkey % 3 = 0),
    loads it via read_catalog_csv, and returns the surviving rows; the
    oracle restates the expected survivors straight from orders — a
    behavior validation of the reader, like F3's."""
    import csv as _csv
    import hashlib

    from udata_datalake_service_spark.sources.csv_reader import read_catalog_csv

    rows = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .collect()
    )
    path = f"/tmp/spark_hydra_catalog_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}.csv"
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = _csv.writer(fh, delimiter=";", quotechar='"')
        w.writerow(
            ["dataset.id", "dataset.archived", "resource.id", "resource.url", "resource.title"]
        )
        for r in rows:
            archived = "True" if r["o_orderkey"] % 3 == 0 else "False"
            w.writerow(
                [
                    r["o_custkey"],
                    archived,
                    r["o_orderkey"],
                    f"https://data.example.org/r/{r['o_orderkey']}",
                    f'order; "{r["o_orderpriority"]}"\nline2',
                ]
            )
    cat = read_catalog_csv(spark, path)
    return cat.select(
        F.col("`dataset.id`").cast("long").alias("dataset_id"),
        F.col("`resource.id`").cast("long").alias("resource_id"),
        F.col("`resource.url`").alias("url"),
        F.col("`resource.title`").alias("title"),
    )


_SQL_S5 = """
SELECT CAST(o_custkey AS BIGINT) AS dataset_id,
       CAST(o_orderkey AS BIGINT) AS resource_id,
       'https://data.example.org/r/' || CAST(o_orderkey AS VARCHAR) AS url,
       'order; "' || o_orderpriority || '"' || chr(10) || 'line2' AS title
FROM orders
WHERE o_orderkey % 97 = 0 AND o_orderkey % 3 <> 0
"""


def q_s4_excel_load(spark, sf_dir):
    """S4 — workbook load, ALL THREE formats (utils/reader.py:31-41 for
    xlsx, :60-66 for xls; ods is beyond the reference's reader): the query
    GENERATES a minimal real xlsx (zip + sheet XML), a real binary
    ``.xls`` (OLE2 container + BIFF8 SST/LABELSST/NUMBER records,
    sources/biff.py), and a real ``.ods`` (zip + OpenDocument content.xml)
    deterministically from orders, loads each through the stdlib readers
    (read_excel → all-strings frame, the same path the inference pipeline
    consumes), and unions the typed rows tagged by format; the oracle
    restates the three slices from orders. Floats ride ``repr`` → cast,
    which round-trips doubles exactly."""
    import hashlib
    import zipfile
    from xml.sax.saxutils import escape

    from udata_datalake_service_spark.sources.biff import write_xls
    from udata_datalake_service_spark.sources.excel_reader import read_excel

    # ONE scan+collect feeds both workbooks (the slices are tiny; a second
    # collect would double the orders scan for no reason)
    both = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderkey") % 131 == 0)
            | (F.col("o_orderkey") % 137 == 0)
            | (F.col("o_orderkey") % 139 == 0)
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("double").alias("tp"),
        )
        .collect()
    )
    rows = [r for r in both if r["o_orderkey"] % 131 == 0]
    path = f"/tmp/spark_hydra_wb_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}.xlsx"
    cells = [
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t>resource.id</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>priority</t></is></c>'
        '<c r="C1" t="inlineStr"><is><t>total</t></is></c></row>'
    ]
    for i, r in enumerate(rows, start=2):
        cells.append(
            f'<row r="{i}"><c r="A{i}"><v>{r["o_orderkey"]}</v></c>'
            f'<c r="B{i}" t="inlineStr"><is><t>{escape(r["o_orderpriority"])}</t></is></c>'
            f'<c r="C{i}"><v>{r["tp"]!r}</v></c></row>'
        )
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        + "".join(cells)
        + "</sheetData></worksheet>"
    )
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{ns}" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Feuille1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    df = read_excel(spark, path, sheet_name="Feuille1")
    xlsx_leg = df.select(
        F.col("`resource.id`").cast("long").alias("resource_id"),
        F.col("priority"),
        F.col("total").cast("double").alias("total"),
        F.lit("xlsx").alias("fmt"),
    )

    xls_rows = [r for r in both if r["o_orderkey"] % 137 == 0]
    ods_rows = [r for r in both if r["o_orderkey"] % 139 == 0]
    xls_path = f"/tmp/spark_hydra_wb_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}.xls"
    write_xls(
        xls_path,
        [["resource.id", "priority", "total"]]
        + [[float(r["o_orderkey"]), r["o_orderpriority"], r["tp"]] for r in xls_rows],
        sheet_name="Feuille1",
    )
    xdf = read_excel(spark, xls_path, sheet_name="Feuille1")
    # BIFF NUMBER cells are doubles: "1310.0" needs the double hop to long
    xls_leg = xdf.select(
        F.col("`resource.id`").cast("double").cast("long").alias("resource_id"),
        F.col("priority"),
        F.col("total").cast("double").alias("total"),
        F.lit("xls").alias("fmt"),
    )

    ns_t = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
    ns_o = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
    ns_x = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"

    def ods_cell(v):
        if isinstance(v, str):
            return (
                '<table:table-cell office:value-type="string">'
                f"<text:p>{escape(v)}</text:p></table:table-cell>"
            )
        return (
            f'<table:table-cell office:value-type="float" office:value="{v!r}"/>'
        )

    ods_body = "".join(
        "<table:table-row>"
        + "".join(ods_cell(v) for v in (float(r["o_orderkey"]), r["o_orderpriority"], r["tp"]))
        + "</table:table-row>"
        for r in ods_rows
    )
    ods_content = (
        f'<?xml version="1.0"?><office:document-content xmlns:office="{ns_o}" '
        f'xmlns:table="{ns_t}" xmlns:text="{ns_x}">'
        "<office:body><office:spreadsheet>"
        '<table:table table:name="Feuille1"><table:table-row>'
        + "".join(ods_cell(h) for h in ("resource.id", "priority", "total"))
        + "</table:table-row>"
        + ods_body
        + "</table:table></office:spreadsheet></office:body></office:document-content>"
    )
    ods_path = f"/tmp/spark_hydra_wb_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}.ods"
    with zipfile.ZipFile(ods_path, "w") as z:
        z.writestr("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
        z.writestr("content.xml", ods_content)
    odf = read_excel(spark, ods_path, sheet_name="Feuille1")
    ods_leg = odf.select(
        F.col("`resource.id`").cast("double").cast("long").alias("resource_id"),
        F.col("priority"),
        F.col("total").cast("double").alias("total"),
        F.lit("ods").alias("fmt"),
    )
    return xlsx_leg.unionByName(xls_leg).unionByName(ods_leg)


_SQL_S4 = """
SELECT CAST(o_orderkey AS BIGINT) AS resource_id,
       o_orderpriority AS priority,
       o_totalprice AS total,
       'xlsx' AS fmt
FROM orders WHERE o_orderkey % 131 = 0
UNION ALL
SELECT CAST(o_orderkey AS BIGINT) AS resource_id,
       o_orderpriority AS priority,
       o_totalprice AS total,
       'xls' AS fmt
FROM orders WHERE o_orderkey % 137 = 0
UNION ALL
SELECT CAST(o_orderkey AS BIGINT) AS resource_id,
       o_orderpriority AS priority,
       o_totalprice AS total,
       'ods' AS fmt
FROM orders WHERE o_orderkey % 139 = 0
"""


def q_k8_drop_table(spark, sf_dir):
    """K8 — table + registry delete in one transaction-equivalent
    (analysis/csv.py:411-416): build a two-table lake from orders slices,
    drop one, and report BOTH tables' post-state — registry survival,
    physical existence, surviving row count. The oracle restates the
    expected post-state (kept table intact with its orders slice count,
    dropped table gone from registry and disk)."""
    import hashlib
    import shutil
    from pathlib import Path

    from udata_datalake_service_spark.sinks.lake import Lake

    root = f"/tmp/spark_hydra_k8_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    shutil.rmtree(root, ignore_errors=True)
    lake = Lake(spark, root)
    o = _t(spark, sf_dir, "orders")
    urls = {
        "keep": "https://data.example.org/keep.csv",
        "drop": "https://data.example.org/drop.csv",
    }
    names = {k: hashlib.md5(u.encode()).hexdigest() for k, u in urls.items()}
    for k, rem in (("keep", 0), ("drop", 1)):
        df = o.filter(F.col("o_orderkey") % 50 == rem).select(
            "o_orderkey", "o_totalprice"
        )
        n = lake.write_table(df, names[k], min_lines_for_parquet=1)
        lake.register(names[k], {"total_lines": n}, resource_id=f"res-{k}", url=urls[k])
    lake.drop_table(names["drop"])

    reg = {
        r["parsing_table"]: r["url"]
        for r in lake.registry().select("parsing_table", "url").collect()
    }
    rows = []
    for k in ("keep", "drop"):
        name = names[k]
        exists = Path(lake.table_path(name)).exists()
        n_rows = lake.read_table(name).count() if exists else None
        rows.append((name, reg.get(name), exists, n_rows))
    return spark.createDataFrame(
        rows, "parsing_table string, url string, table_exists boolean, n_rows long"
    )


_SQL_K8 = """
SELECT md5('https://data.example.org/keep.csv') AS parsing_table,
       'https://data.example.org/keep.csv' AS url, TRUE AS table_exists,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 50 = 0) AS n_rows
UNION ALL
SELECT md5('https://data.example.org/drop.csv'), NULL, FALSE, NULL
"""


# =========================================================================
# Text / LLM plane
# =========================================================================


_SQL_TX_STATS = f"""
WITH x AS (
  SELECT doc_id, text, {_SQL_TOKS} AS t,
    CAST(length(text) AS DOUBLE) AS nc,
    CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS npunct,
    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) AS nalpha
  FROM documents
), y AS (
  SELECT doc_id, len(t) AS n_tokens,
    CASE WHEN nc > 0 THEN npunct / nc ELSE 0.0 END AS praw,
    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','it','for','with'))) AS DOUBLE) / len(t) ELSE 0.0 END AS sraw,
    CASE WHEN len(t) > 0 THEN nalpha / len(t) ELSE 0.0 END AS mean_wlen
  FROM x
)
SELECT doc_id, n_tokens, ROUND(praw, 4) AS punct_ratio, ROUND(sraw, 4) AS stopword_ratio,
  ROUND(CAST(
    CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END
    + CASE WHEN praw <= 0.2 THEN 0.2 ELSE 0.0 END
    + CASE WHEN sraw >= 0.01 THEN 0.2 ELSE 0.0 END
    + CASE WHEN mean_wlen >= 2.0 AND mean_wlen <= 12.0 THEN 0.2 ELSE 0.0 END AS DOUBLE), 4) AS quality
FROM y
"""


def _sql_lang_hits(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(t, x -> x IN ({markers})))"


_SQL_TX_LANGID = f"""
WITH x AS (SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents),
h AS (
  SELECT doc_id, lang,
    {_sql_lang_hits('de')} AS h_de, {_sql_lang_hits('en')} AS h_en,
    {_sql_lang_hits('es')} AS h_es, {_sql_lang_hits('fr')} AS h_fr
  FROM x
)
SELECT doc_id, lang AS lang_declared,
  CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) < 1 THEN 'und'
       WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
       WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
       WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
       ELSE 'fr' END AS lang_detected
FROM h
"""


def q_tx_curate_pipeline(spark, sf_dir):
    """The composed corpus-curation flow these operators exist for — one
    declarative plan, end to end: (1) language gate (a detected language,
    not 'und'), (2) quality gate (score ≥ 0.55 — a non-grid threshold, so
    float epsilon on the 0.2-step score can't flip membership), (3) exact
    dedup keeping the lowest doc_id per canonical fingerprint, (4) near-dup
    removal: for every exact-Jaccard pair ≥ 0.35 among survivors, the
    higher id drops. Survivors emit (doc_id, lang_detected, quality).

    Physical shape: two scans of documents (gate+dedup window, then the
    shingle inverted index on the gated survivors) + an anti-join — every
    stage is the same operator the standalone queries pin, composed."""
    from udata_datalake_service_spark.llm.dedup import exact_dedup, ngram_jaccard_pairs
    from udata_datalake_service_spark.llm.text import (
        detect_language_from,
        fingerprint_from,
        quality_score_from,
    )
    from udata_datalake_service_spark.planshape import pinned_filter

    d = _tw(spark, sf_dir, "documents")
    # r13 opt (guide §4): ONE staged tokenize serves the language gate,
    # the quality gate and the dedup fingerprint. The inline form
    # re-tokenized per helper, and the gate filter — pushed below the
    # staging projection by PushPredicateThroughNonJoin — re-inlined the
    # whole score tree into the predicate below the repartition Exchange
    # (single-threaded tokenize of the full corpus); pinned_filter keeps
    # it above. The token array is dropped before the dedup window so
    # the fingerprint shuffle carries no extra bytes.
    staged = d.select("doc_id", "text", tokens(F.col("text")).alias("__t"))
    scored = staged.select(
        "doc_id",
        "text",
        "__t",
        detect_language_from(F.col("__t")).alias("lang_detected"),
        quality_score_from(F.col("text"), F.col("__t")).alias("quality"),
    )
    gated = pinned_filter(
        scored, (F.col("lang_detected") != "und") & (F.col("quality") >= 0.55)
    )
    keyed = gated.select(
        "doc_id",
        "text",
        "lang_detected",
        "quality",
        fingerprint_from(F.col("__t")).alias("__fp"),
    )
    deduped = exact_dedup(keyed, text="text", id_col="doc_id", fp_col="__fp")
    # deduped feeds BOTH the shingle index and the final anti-join left
    # side — without a persist the gate+fingerprint+window subtree executes
    # twice (measured ~2 s at sf0.1; at 100 TB this is a full extra corpus
    # pass, where the production analogue is a materialized survivors table)
    deduped = deduped.persist()
    pairs = ngram_jaccard_pairs(deduped, k=2, threshold=0.35)
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    out = deduped.join(drops, on="doc_id", how="left_anti").select(
        "doc_id", "lang_detected", F.round("quality", 4).alias("quality")
    )
    # action boundary: materialize, then release our persist + the shingle
    # index ngram_jaccard_pairs adopted onto `pairs`
    return settle(out, deduped, *adopted(pairs))


_SQL_TX_CURATE = f"""
WITH x AS (
  SELECT doc_id, text, {_SQL_TOKS} AS t,
    CAST(length(text) AS DOUBLE) AS nc,
    CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS npunct,
    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) AS nalpha
  FROM documents
), feats AS (
  SELECT doc_id, t, len(t) AS n_tokens,
    CASE WHEN nc > 0 THEN npunct / nc ELSE 0.0 END AS praw,
    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','it','for','with'))) AS DOUBLE) / len(t) ELSE 0.0 END AS sraw,
    CASE WHEN len(t) > 0 THEN nalpha / len(t) ELSE 0.0 END AS mean_wlen,
    {_sql_lang_hits('de')} AS h_de, {_sql_lang_hits('en')} AS h_en,
    {_sql_lang_hits('es')} AS h_es, {_sql_lang_hits('fr')} AS h_fr
  FROM x
), scored AS (
  SELECT doc_id, t,
    CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) < 1 THEN 'und'
         WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
         WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
         WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
         ELSE 'fr' END AS lang_detected,
    CAST(CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END
      + CASE WHEN praw <= 0.2 THEN 0.2 ELSE 0.0 END
      + CASE WHEN sraw >= 0.01 THEN 0.2 ELSE 0.0 END
      + CASE WHEN mean_wlen >= 2.0 AND mean_wlen <= 12.0 THEN 0.2 ELSE 0.0 END AS DOUBLE) AS quality
  FROM feats
), gated AS (
  SELECT doc_id, t, lang_detected, quality FROM scored
  WHERE lang_detected <> 'und' AND quality >= 0.55
), deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(array_to_string(t, ' ')) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), sh AS (SELECT doc_id AS id, unnest({_sql_shingles(2)}) AS s FROM deduped),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
), drops AS (
  SELECT DISTINCT id_b FROM inter
  JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
  WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.35
)
SELECT doc_id, lang_detected, ROUND(quality, 4) AS quality
FROM deduped WHERE doc_id NOT IN (SELECT id_b FROM drops)
"""


# ---- curate_zipf: the soak pipeline on the natural-statistics fixture ----
# (VERDICT r12 task 6): the ×64 curation soak's flagship composition —
# gate → exact dedup → retrieval-gated decontamination → mixture report —
# had no oracle-attested binding at its natural-fixture (Zipf-Mandelbrot)
# shape; the registry twin tx_curate_pipeline runs on the driver testdata,
# whose 31-token vocabulary round 12 proved distorts probe behavior. The
# corpus here is a deterministic synthtext slice written ONCE to /tmp by
# the pure-python twin of the distributed generator (row-equality pinned
# in tests/test_synthtext.py), so DuckDB replays the identical pipeline
# over the identical bytes.
_ZIPF_FIXTURE_PATH = "/tmp/spark_hydra_zipf_curate.parquet"
_ZIPF_N_BASE, _ZIPF_N_DUP = 800, 80


def ensure_zipf_fixture() -> str:
    """Write the curate_zipf corpus if absent: 800 Zipf-Mandelbrot docs
    (seed-pure, vocab 2000, lognormal lengths median 120) plus 80 planted
    exact duplicates (ids 800..879 carry the text of ids 0..79). Pure
    python + pyarrow — callable from the oracle side too, so whichever
    engine runs first materializes it."""
    import os

    if os.path.exists(_ZIPF_FIXTURE_PATH):
        return _ZIPF_FIXTURE_PATH
    import pyarrow as pa
    import pyarrow.parquet as pq

    from udata_datalake_service_spark.llm.synthtext import zipf_corpus_rows

    rows = zipf_corpus_rows(
        _ZIPF_N_BASE, vocab_size=2000, seed="curate-r13",
        median_words=120, max_words=2000,
    )
    langs, sources = ("en", "fr", "es", "de"), ("web", "news", "wiki", "forum")
    for j in range(_ZIPF_N_DUP):
        i = _ZIPF_N_BASE + j
        text = rows[j][1]
        rows.append((i, text, langs[i % 4], sources[i // 7 % 4], len(text)))
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    tmp = _ZIPF_FIXTURE_PATH + f".tmp-{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, _ZIPF_FIXTURE_PATH)
    return _ZIPF_FIXTURE_PATH


def q_curate_zipf(spark, sf_dir):
    """The composed curation pipeline at its natural-statistics shape —
    the same stage order the ×64 soak runs (SOAK.md), oracle-bound:
    (1) gate: detected language, quality ≥ 0.55, AND the Gopher-style
    50-token floor (which genuinely bites on lognormal lengths);
    (2) exact dedup keeping the lowest doc_id per token fingerprint
    (drops the 80 planted copies); (3) retrieval-gated decontamination:
    8 eval probes are 12-token spans cut from corpus docs (the
    GPT-3-report scenario — eval items excerpted from crawl pages), a
    survivor drops when it lands in a probe's BM25 top-20 AND shares
    ≥ 2 verbatim 3-grams with it; (4) mixture report: per (source,
    lang) survivor counts, token mass, and normalized sampling weight.

    Scale shape: every stage is the pinned operator the standalone
    queries use — hash-partitioned dedup, broadcast-bounded BM25 probe
    (8 queries), candidate-bounded n-gram evidence; nothing all-pairs,
    nothing driver-side beyond the 8-probe limit."""
    path = ensure_zipf_fixture()
    from udata_datalake_service_spark.llm.contamination import _exploded_ngrams
    from udata_datalake_service_spark.llm.dedup import exact_dedup
    from udata_datalake_service_spark.llm.retrieval import bm25_topk

    from udata_datalake_service_spark.llm.text import (
        detect_language_from,
        fingerprint_from,
        quality_score_from,
    )
    from udata_datalake_service_spark.planshape import pinned_filter

    d = spark.read.parquet(path).repartition(
        spark.sparkContext.defaultParallelism
    )
    # r13 opt: staged tokenize + pinned gate (see q_tx_curate_pipeline);
    # the staged `t` column also feeds the dedup fingerprint, the BM25
    # postings/stats and the corpus n-grams below — ONE tokenize for the
    # whole gate→dedup→decontam flow instead of one per helper.
    x0 = d.select(
        "doc_id", "text", "source", "lang", tokens(F.col("text")).alias("t")
    )
    x = x0.select(
        "doc_id", "text", "source", "lang", "t",
        detect_language_from(F.col("t")).alias("lang_detected"),
        quality_score_from(F.col("text"), F.col("t")).alias("quality"),
    )
    gated = pinned_filter(
        x,
        (F.col("lang_detected") != "und")
        & (F.col("quality") >= 0.55)
        & (F.size("t") >= 50),
    )
    deduped = exact_dedup(
        gated.select(
            "doc_id", "text", "source", "lang", "t",
            fingerprint_from(F.col("t")).alias("__fp"),
        ),
        id_col="doc_id",
        fp_col="__fp",
    ).persist()
    # eval probes: 12-token spans (tokens 6..17) of the first 8 raw docs
    # with ≥ 80 tokens and doc_id ≡ 2 (mod 5) — self-contamination by
    # construction, plus whatever natural overlap the Zipf head causes
    ev = (
        pinned_filter(
            d.filter(F.col("doc_id") % 5 == 2).select(
                "doc_id", tokens(F.col("text")).alias("t")
            ),
            F.size("t") >= 80,
        )
        .select("doc_id", F.slice("t", 6, 12).alias("qt"))
        .orderBy("doc_id")
        .limit(8)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join("qt", " ").alias("text"),
        )
    )
    # postings/stats derived from the staged token column of the
    # persisted survivors — identical to bm25_postings/bm25_stats on
    # (deduped, "text") since `t` IS tokens(text), minus two tokenizes
    dt = (
        deduped.select(
            "doc_id", F.size("t").alias("dl"), F.explode("t").alias("term")
        )
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = deduped.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.sum(F.size("t")).alias("total_dl"),
    )
    bm = bm25_topk(
        deduped,
        ev,
        k=20,
        postings=dt.select("term", "doc_id", "tf", "dl"),
        stats=stats,
    )
    ev_ng = _exploded_ngrams(ev, "text", "query_id", _CONTAM_K)
    c_ng = _exploded_ngrams(deduped, "text", "doc_id", _CONTAM_K, toks_col="t")
    shared = (
        c_ng.join(F.broadcast(ev_ng), "ngram")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("ngram").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    drops = (
        shared.join(F.broadcast(bm), ["query_id", "doc_id"])
        .select("doc_id")
        .distinct()
    )
    surv = deduped.join(drops, on="doc_id", how="left_anti")
    out = (
        surv.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum(F.size("t")).alias("sum_tokens"),
        )
        .withColumn(
            "weight",
            F.round(
                F.col("n_survivors")
                / F.sum("n_survivors").over(Window.partitionBy()),
                6,
            ),
        )
    )
    return settle(out, deduped)


_SQL_CURATE_ZIPF = f"""
WITH docs AS (SELECT * FROM read_parquet('{_ZIPF_FIXTURE_PATH}')),
x0 AS (
  SELECT doc_id, source, lang, text, {_SQL_TOKS} AS t,
    CAST(length(text) AS DOUBLE) AS nc,
    CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS npunct,
    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) AS nalpha
  FROM docs
), feats AS (
  SELECT doc_id, source, lang, t, len(t) AS n_tokens,
    CASE WHEN nc > 0 THEN npunct / nc ELSE 0.0 END AS praw,
    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','it','for','with'))) AS DOUBLE) / len(t) ELSE 0.0 END AS sraw,
    CASE WHEN len(t) > 0 THEN nalpha / len(t) ELSE 0.0 END AS mean_wlen,
    {_sql_lang_hits('de')} AS h_de, {_sql_lang_hits('en')} AS h_en,
    {_sql_lang_hits('es')} AS h_es, {_sql_lang_hits('fr')} AS h_fr
  FROM x0
), scored AS (
  SELECT doc_id, source, lang, t, n_tokens,
    CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) < 1 THEN 'und'
         WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
         WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
         WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
         ELSE 'fr' END AS lang_detected,
    CAST(CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END
      + CASE WHEN praw <= 0.2 THEN 0.2 ELSE 0.0 END
      + CASE WHEN sraw >= 0.01 THEN 0.2 ELSE 0.0 END
      + CASE WHEN mean_wlen >= 2.0 AND mean_wlen <= 12.0 THEN 0.2 ELSE 0.0 END AS DOUBLE) AS quality
  FROM feats
), gated AS (
  SELECT doc_id, source, lang, t FROM scored
  WHERE lang_detected <> 'und' AND quality >= 0.55 AND n_tokens >= 50
), deduped AS (
  SELECT doc_id, source, lang, t FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(array_to_string(t, ' ')) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), ev AS (
  SELECT doc_id AS query_id, t[6:17] AS qt
  FROM x0 WHERE len(t) >= 80 AND doc_id % 5 = 2
  ORDER BY doc_id LIMIT 8
), dt AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM deduped
), tf AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM dt GROUP BY doc_id, term, dl
), dfr AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(len(t)) AS total_dl FROM deduped
), idx AS (
  SELECT tf.term, tf.doc_id,
    CAST(round(
      ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
      * ((tf.tf * 2.2) /
         (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / (s.total_dl / s.n_docs)))))
      * 1000000, 0) AS BIGINT) AS w_fp
  FROM tf JOIN dfr USING (term) CROSS JOIN stats s
), qt AS (
  SELECT query_id, unnest(list_distinct(qt)) AS term FROM ev
), bm_scored AS (
  SELECT qt.query_id, idx.doc_id, round(SUM(idx.w_fp) / 1000000.0, 6) AS score
  FROM idx JOIN qt USING (term)
  GROUP BY qt.query_id, idx.doc_id
), bm_ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM bm_scored
), ev_ng AS (
  SELECT query_id, unnest(
    CASE WHEN len(qt) >= {_CONTAM_K} THEN list_distinct(list_transform(
      range(1, len(qt)-{_CONTAM_K}+2),
      i -> array_to_string(qt[i:i+{_CONTAM_K}-1],' ')))
    ELSE [array_to_string(qt,' ')] END) AS ngram
  FROM ev
), c_ng AS (
  SELECT doc_id, unnest({_sql_shingles(_CONTAM_K)}) AS ngram
  FROM deduped WHERE len(t) >= {_CONTAM_K}
), shared AS (
  SELECT e.query_id, c.doc_id, COUNT(DISTINCT c.ngram) AS n_shared
  FROM c_ng c JOIN ev_ng e USING (ngram)
  GROUP BY e.query_id, c.doc_id
  HAVING COUNT(DISTINCT c.ngram) >= 2
), drops AS (
  SELECT DISTINCT b.doc_id
  FROM bm_ranked b JOIN shared s
    ON b.query_id = s.query_id AND b.doc_id = s.doc_id
  WHERE b.rnk <= 20
), surv AS (
  SELECT * FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM drops)
)
SELECT source, lang, COUNT(*) AS n_survivors,
       CAST(SUM(len(t)) AS BIGINT) AS sum_tokens,
  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS weight
FROM surv GROUP BY source, lang
"""


def q_dd_exact_prefix_groups(spark, sf_dir):
    """Exact dedup via hash-groupBy on a canonical key (5-token prefix —
    catches the planted near-identical docs); emits dup groups."""
    d = _tw(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(tokens(F.col("text")), 1, 5), " "))
    return (
        d.withColumn("fp", fp)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


_SQL_DD_EXACT = f"""
SELECT md5(array_to_string({_SQL_TOKS}[1:5], ' ')) AS fp,
       COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


_MINHASH_N = 8
_MINHASH_K = 2
_LSH_BANDS = 2
_LSH_ROWS = 4


def q_dd_minhash_signature(spark, sf_dir):
    """MinHash signatures (md5-min family, k=2 shingles), emitted as one
    joined string for portable comparison."""
    d = _tw(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=_MINHASH_N, k=_MINHASH_K)
    return sigs.select(
        F.col("id").alias("doc_id"), F.array_join("sig", "|").alias("signature")
    )


def _sql_minhash_mins() -> list[str]:
    return [
        f"list_min(list_transform(sh, s -> md5('{i}|' || s)))"
        for i in range(_MINHASH_N)
    ]


_SQL_DD_MINHASH = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
s AS (SELECT doc_id, {_sql_shingles(_MINHASH_K)} AS sh FROM x)
SELECT doc_id, concat_ws('|', {', '.join(_sql_minhash_mins())}) AS signature FROM s
"""


_XXH_TWIN_OFFSET = 1_000_000


def q_dd_minhash_xxh(spark, sf_dir):
    """xxh64-family MinHash end-to-end (sigs → long band keys →
    candidates → estimate; ``llm/dedup.minhash_signatures`` with
    ``hash_family='xxh64'`` — the near-dup stream's throughput family,
    SOAK.md round-13).

    xxhash64 is not replayable in DuckDB, so the binding uses the
    family-independent invariant instead of value replay: every
    ``doc_id % 5 == 0`` document gets a planted twin (same text,
    id + offset). Identical shingle sets ⇒ identical signatures under
    ANY min-wise family ⇒ the twin pair is a guaranteed band collision
    with estimate exactly 1.0. The returned twin-aligned verified pairs
    are therefore exactly the selected documents — which the oracle
    states directly. A missed candidate, a wrong estimate, or a
    band-key type mismatch each break the row set."""
    d = _tw(spark, sf_dir, "documents")
    twins = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_XXH_TWIN_OFFSET)
    )
    sigs = minhash_signatures(
        d.unionByName(twins),
        num_hashes=_MINHASH_N,
        k=_MINHASH_K,
        hash_family="xxh64",
    ).persist()
    pairs = lsh_candidate_pairs(sigs, num_bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    out = (
        minhash_jaccard_estimate(sigs, pairs)
        .filter(
            (F.col("id_b") - F.col("id_a") == _XXH_TWIN_OFFSET)
            & (F.col("jaccard_est") == 1.0)
        )
        .select(
            F.col("id_a").alias("doc_id"),
            F.col("id_b").alias("twin_id"),
            "jaccard_est",
        )
    )
    return settle(out, sigs)


_SQL_DD_MINHASH_XXH = f"""
SELECT doc_id, doc_id + {_XXH_TWIN_OFFSET} AS twin_id,
       CAST(1.0 AS DOUBLE) AS jaccard_est
FROM documents WHERE doc_id % 5 = 0
"""


def q_dd_lsh_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs with signature-overlap Jaccard estimate
    — the scalable near-dup pipeline end-to-end. The signature table is
    persisted: banding + the two estimate joins read it three times (at
    production scale this is the materialized signatures table)."""
    d = _tw(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=_MINHASH_N, k=_MINHASH_K).persist()
    pairs = lsh_candidate_pairs(sigs, num_bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    return settle(minhash_jaccard_estimate(sigs, pairs), sigs)


def q_dd_lsh_incremental(spark, sf_dir):
    """Incremental near-dup probe (llm/dedup.incremental_lsh_pairs): the
    daily-ingest shape — corpus = documents with doc_id % 3 != 0 (the
    already-indexed 2/3), batch = the doc_id % 3 == 0 arrivals. Band
    both sides, probe the corpus index with ONE equi-join (never
    corpus×corpus again), estimate Jaccard from signature overlap. Ids
    are disjoint by construction, so the union signature table the
    estimator joins is key-unique. At production scale the corpus band
    table is a bucketed lake table and this plan re-shuffles only the
    batch (pytest-pinned via write_bucketed_table)."""
    from udata_datalake_service_spark.llm.dedup import (
        incremental_lsh_pairs,
        minhash_jaccard_estimate,
    )

    d = _tw(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    batch = d.filter(F.col("doc_id") % 3 == 0)
    csigs = minhash_signatures(corpus, num_hashes=_MINHASH_N, k=_MINHASH_K).persist()
    bsigs = minhash_signatures(batch, num_hashes=_MINHASH_N, k=_MINHASH_K).persist()
    pairs = incremental_lsh_pairs(
        csigs, bsigs, num_bands=_LSH_BANDS, rows_per_band=_LSH_ROWS
    )
    est = minhash_jaccard_estimate(csigs.unionByName(bsigs), pairs)
    out = est.select(
        F.col("id_a").alias("corpus_id"),
        F.col("id_b").alias("batch_id"),
        "jaccard_est",
    )
    return settle(out, csigs, bsigs)


def _sql_band_key(b: int) -> str:
    mins = _sql_minhash_mins()[b * _LSH_ROWS : (b + 1) * _LSH_ROWS]
    return f"md5(concat_ws('|', {', '.join(mins)}))"


_SQL_DD_LSH = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
s AS (SELECT doc_id, {_sql_shingles(_MINHASH_K)} AS sh FROM x),
sigs AS (SELECT doc_id, [{', '.join(_sql_minhash_mins())}] AS sig FROM s),
buckets AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {_sql_band_key(b)} AS bkey FROM s" for b in range(_LSH_BANDS))}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
  ROUND(CAST(len(list_filter(range(1, {_MINHASH_N + 1}), i -> list_extract(sa.sig, i) = list_extract(sb.sig, i))) AS DOUBLE) / {_MINHASH_N}, 6) AS jaccard_est
FROM pairs p JOIN sigs sa ON p.id_a = sa.doc_id JOIN sigs sb ON p.id_b = sb.doc_id
"""


_SQL_DD_LSH_INCR = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
s AS (SELECT doc_id, {_sql_shingles(_MINHASH_K)} AS sh FROM x),
sigs AS (SELECT doc_id, [{', '.join(_sql_minhash_mins())}] AS sig FROM s),
buckets AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {_sql_band_key(b)} AS bkey FROM s" for b in range(_LSH_BANDS))}
),
pairs AS (
  SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS batch_id
  FROM buckets c JOIN buckets b ON c.band = b.band AND c.bkey = b.bkey
  WHERE c.doc_id % 3 <> 0 AND b.doc_id % 3 = 0
)
SELECT p.corpus_id, p.batch_id,
  ROUND(CAST(len(list_filter(range(1, {_MINHASH_N + 1}), i -> list_extract(sa.sig, i) = list_extract(sb.sig, i))) AS DOUBLE) / {_MINHASH_N}, 6) AS jaccard_est
FROM pairs p JOIN sigs sa ON p.corpus_id = sa.doc_id JOIN sigs sb ON p.batch_id = sb.doc_id
"""


_LSH_MAX_BUCKET = 2  # registry cap: small enough that real testdata has drops


def q_dd_lsh_capped(spark, sf_dir):
    """Hot-bucket-cap audit (llm/dedup.lsh_cap_scorecard): the VERDICT-r8
    100 TB straggler fix. A k-doc template family sharing a band key makes
    the band self-join emit k² pairs in ONE task; ``max_bucket`` skips
    buckets larger than the cap, and — per the no-silent-caps rule — this
    query ATTESTS the drop: pairs with/without the cap plus how many
    buckets/postings were skipped. At production scale the capped band
    table is what ``write_bucketed_table`` persists as the LSH index."""
    d = _tw(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=_MINHASH_N, k=_MINHASH_K).persist()
    out = lsh_cap_scorecard(
        sigs,
        num_bands=_LSH_BANDS,
        rows_per_band=_LSH_ROWS,
        max_bucket=_LSH_MAX_BUCKET,
    )
    return settle(out, sigs)


_SQL_DD_LSH_CAPPED = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
s AS (SELECT doc_id, {_sql_shingles(_MINHASH_K)} AS sh FROM x),
buckets AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {_sql_band_key(b)} AS bkey FROM s" for b in range(_LSH_BANDS))}
),
sizes AS (
  SELECT band, bkey, COUNT(*) AS bucket_size FROM buckets GROUP BY band, bkey
),
unc AS (
  SELECT COUNT(*) AS pairs_uncapped FROM (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
),
keepb AS (
  SELECT k.doc_id, k.band, k.bkey FROM buckets k
  JOIN sizes z ON k.band = z.band AND k.bkey = z.bkey
  WHERE z.bucket_size <= {_LSH_MAX_BUCKET}
),
cap AS (
  SELECT COUNT(*) AS pairs_capped FROM (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM keepb a JOIN keepb b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
),
drops AS (
  SELECT COUNT(*) AS buckets_dropped,
         COALESCE(SUM(bucket_size), 0) AS rows_dropped
  FROM sizes WHERE bucket_size > {_LSH_MAX_BUCKET}
)
SELECT CAST(pairs_uncapped AS BIGINT) AS pairs_uncapped,
       CAST(pairs_capped AS BIGINT) AS pairs_capped,
       CAST(buckets_dropped AS BIGINT) AS buckets_dropped,
       CAST(rows_dropped AS BIGINT) AS rows_dropped
FROM unc, cap, drops
"""


def q_dd_dup_clusters(spark, sf_dir):
    """The dedup capstone: MinHash+LSH pairs (estimate ≥ 0.5) resolved
    into duplicate CLUSTERS via distributed connected components —
    cluster_id = min doc_id reachable through the pair graph, singletons
    included. Pairwise dropping can't express chains (a-b, b-c keeps c);
    cluster resolution is what production MinHash dedup actually ships.
    The iterative min-label propagation converges in diameter rounds; the
    oracle replays it as a recursive CTE."""
    d = _tw(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=_MINHASH_N, k=_MINHASH_K).persist()
    cand = lsh_candidate_pairs(sigs, num_bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    # est = round(matches/8, 6); 0.5 is exactly representable, so the
    # filter is the integer predicate matches >= 4 on both engines
    pairs = minhash_jaccard_estimate(sigs, cand).filter(F.col("jaccard_est") >= 0.5)
    return settle(near_dup_clusters(d, pairs, id_col="doc_id"), sigs)


_SQL_DD_CLUSTERS = f"""
WITH RECURSIVE x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
s AS (SELECT doc_id, {_sql_shingles(_MINHASH_K)} AS sh FROM x),
sigs AS (SELECT doc_id, [{', '.join(_sql_minhash_mins())}] AS sig FROM s),
buckets AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {_sql_band_key(b)} AS bkey FROM s" for b in range(_LSH_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN sigs sa ON cand.id_a = sa.doc_id JOIN sigs sb ON cand.id_b = sb.doc_id
  WHERE len(list_filter(range(1, {_MINHASH_N + 1}),
        i -> list_extract(sa.sig, i) = list_extract(sb.sig, i))) * 2 >= {_MINHASH_N}
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
cc(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, cc.label FROM cc JOIN edges e ON cc.id = e.a
)
SELECT id AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY id
"""


def q_dd_star_clusters(spark, sf_dir):
    """Connected components via alternating large-star/small-star
    (llm/dedup.py:star_clusters, Kiveris et al. 2014) on a pair graph
    min-label propagation CANNOT resolve: 120-node duplicate chains
    (edges doc_id→doc_id+1 broken every 120th), diameter 119 > the
    min-label default budget of 50. Star contracts each chain to its
    min-id root in O(log²n) alternations; the oracle replays the
    components as a recursive CTE. Same output contract as
    dd_dup_clusters (every doc labeled, singletons label themselves)."""
    from udata_datalake_service_spark.llm.dedup import near_dup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = (
        d.select(F.col("doc_id").alias("id_a"))
        .filter(F.col("id_a") % 120 != 119)
        .join(
            d.select(F.col("doc_id").alias("id_b")),
            F.col("id_b") == F.col("id_a") + 1,
        )
    )
    return near_dup_clusters(d, pairs, id_col="doc_id", method="star")


_SQL_DD_STAR = """
WITH RECURSIVE e AS (
  SELECT a.doc_id AS s, b.doc_id AS t
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 120 <> 119
),
edges AS (SELECT s AS a, t AS b FROM e UNION ALL SELECT t AS a, s AS b FROM e),
cc(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, cc.label FROM cc JOIN edges e ON cc.id = e.a
)
SELECT id AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY id
"""


_SQL_DD_NGRAM = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (SELECT doc_id AS id, unnest({_sql_shingles(2)}) AS s FROM x),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
)
SELECT id_a, id_b,
  ROUND(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.35
"""


def q_s7_mime_sniff(spark, sf_dir):
    """S7 — MIME detection from content magic bytes as pure column
    expressions (the libmagic call at analysis/resource.py:92, Spark-
    native). Content = deterministic magic prefix by doc_id class + the
    document's text bytes; the prefixless class must fall through the
    signature cascade into the printable-text heuristic. The oracle states
    the expected mime per class (behavior validation, like F3)."""
    from udata_datalake_service_spark.functions.mime import detect_mime

    d = _t(spark, sf_dir, "documents")
    prefixes = [
        b"\x1f\x8b\x08",  # gzip
        b"PK\x03\x04",  # zip (xlsx container)
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1",  # OLE compound (xls)
        b"",  # raw text → text/plain
    ]
    content = F.concat(
        F.element_at(
            F.array(*[F.lit(p) for p in prefixes]), (F.col("doc_id") % 4 + 1).cast("int")
        ),
        F.encode("text", "utf-8"),
    )
    return d.select("doc_id", detect_mime(content).alias("mime"))


_SQL_S7 = """
SELECT doc_id,
  CASE doc_id % 4 WHEN 0 THEN 'application/gzip' WHEN 1 THEN 'application/zip'
       WHEN 2 THEN 'application/vnd.ms-excel' ELSE 'text/plain' END AS mime
FROM documents
"""


def q_skew_salted_count(spark, sf_dir):
    """Skew-safe two-phase aggregation over the hot ``lang`` key (a handful
    of values across the whole corpus — the canonical hot-key shape). The
    salted pre-aggregation splits each hot key across reducers; the oracle
    is the plain GROUP BY, proving count identity."""
    from udata_datalake_service_spark.operators.core import salted_count

    d = _t(spark, sf_dir, "documents")
    return salted_count(d.select("doc_id", "lang"), ["lang"]).select(
        "lang", F.col("count").cast("long").alias("n")
    )


_SQL_SKEW_SALTED = "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang"


def q_dd_simhash(spark, sf_dir):
    """SimHash64 per document, map-only pandas-UDF form (zero shuffles at
    any scale). Verified three ways: the generated DuckDB bit-plane oracle,
    the Hamming-blocked near-dup tests, and the
    simhash_map≡simhash_table≡simhash64 equivalence tests."""
    d = _tw(spark, sf_dir, "documents")
    return simhash_map(d).select(F.col("id").alias("doc_id"), "simhash")


_SQL_ANN_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(q.v, e.v) /
      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
  FROM q JOIN e ON q.vec_id <> e.vec_id
)
SELECT query_id, neighbor_id, cos, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


def q_ann_near_dups_exact(spark, sf_dir):
    """Embedding near-dup pairs (cos ≥ 0.42) — exact all-pairs baseline
    (the LSH-bucketed variant is the scale path; this is its verifier).
    Distributed block nested-loop: hash-blocked rows, one numpy matmul per
    block pair inside applyInPandas — per-task memory bounded by two
    blocks, nothing materialized on the driver."""
    from udata_datalake_service_spark.llm.similarity import exact_near_dup_pairs

    e = _tw(spark, sf_dir, "embeddings")
    return exact_near_dup_pairs(e, threshold=0.42, dim=64)


_SQL_ANN_NEAR = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.42
"""


def _lsh_planes_values_sql(
    dim: int = 64, num_planes: int = 8, num_tables: int = 4, seed_base: int = 7
) -> str:
    """The LSH hyperplanes as DuckDB VALUES rows ``(tbl, p, DOUBLE[])``.

    The planes are splitmix64-derived constants (similarity._hyperplanes)
    — not random state — so embedding their exact float64 reprs in the
    oracle text replays the SAME approximation DuckDB-side. ``repr``
    round-trips doubles exactly."""
    from udata_datalake_service_spark.llm.similarity import _hyperplanes

    rows = []
    for t in range(num_tables):
        for p, plane in enumerate(_hyperplanes(dim, num_planes, seed=seed_base + t)):
            lit = "[" + ", ".join(repr(w) for w in plane) + "]::DOUBLE[]"
            rows.append(f"({t}, {p}, {lit})")
    return ",\n".join(rows)


# ann_topk_lsh oracle: the SAME sign-LSH bucketing replayed in SQL —
# bucket key = bits packed little-endian over planes (1<<p iff dot ≥ 0),
# candidates share (table, key), exact round-6 cosine re-rank. Approximate
# ≠ nondeterministic: the planes are constants, so the full result is
# value-checkable. (Sign flips would need |dot| ≲ 1e-13 — BLAS-vs-
# sequential summation noise on O(1) dots; never observed.)
_SQL_ANN_LSH = f"""
WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
planes(tbl, p, w) AS (VALUES {_lsh_planes_values_sql()}),
cb AS (
  SELECT neighbor_id, tbl,
         SUM(CASE WHEN list_dot_product(cv, w) >= 0 THEN 1 << p ELSE 0 END) AS bkey
  FROM c CROSS JOIN planes GROUP BY neighbor_id, tbl
),
qb AS (
  SELECT query_id, tbl,
         SUM(CASE WHEN list_dot_product(qv, w) >= 0 THEN 1 << p ELSE 0 END) AS bkey
  FROM q CROSS JOIN planes GROUP BY query_id, tbl
),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM qb JOIN cb USING (tbl, bkey)
  WHERE query_id <> neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qv, cv) /
      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
  FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
)
SELECT query_id, neighbor_id, cos, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


# ann_topk_ivf oracle: centroids = first 16 corpus vectors by id (list_id
# = position); assignment/probing rank by dot/centroid-norm (row norms
# cancel) with ties to the lower list id — exactly ivf_topk's stable
# argsort. Queries probe 4 lists; round-6 cosine re-rank on candidates.
_SQL_ANN_IVF = """
WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
cent AS (
  SELECT cv AS w, ROW_NUMBER() OVER (ORDER BY neighbor_id) - 1 AS list_id
  FROM c QUALIFY ROW_NUMBER() OVER (ORDER BY neighbor_id) <= 16
),
cassign AS (
  SELECT neighbor_id, list_id FROM (
    SELECT c.neighbor_id, cent.list_id,
      ROW_NUMBER() OVER (PARTITION BY c.neighbor_id
        ORDER BY list_dot_product(c.cv, cent.w) / sqrt(list_dot_product(cent.w, cent.w)) DESC,
                 cent.list_id ASC) AS rn
    FROM c CROSS JOIN cent
  ) WHERE rn = 1
),
qprobe AS (
  SELECT query_id, list_id FROM (
    SELECT q.query_id, cent.list_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY list_dot_product(q.qv, cent.w) / sqrt(list_dot_product(cent.w, cent.w)) DESC,
                 cent.list_id ASC) AS rn
    FROM q CROSS JOIN cent
  ) WHERE rn <= 4
),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM qprobe JOIN cassign USING (list_id)
  WHERE query_id <> neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qv, cv) /
      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
  FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
)
SELECT query_id, neighbor_id, cos, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


# dd_simhash oracle: the exact bit-plane math replayed in DuckDB — token
# split regex, md5-prefix 64-bit hash, per-bit ±1 votes, MSB-first packing
# with signed-int64 wraparound. Generated (64 vote terms) but fully ANSI.
_SQL_DD_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN (hv >> {63 - b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)
_SQL_DD_SIMHASH_PACK = " + ".join(
    f"CASE WHEN v{b} > 0 THEN {1 << (63 - b)}::HUGEINT ELSE 0::HUGEINT END"
    for b in range(64)
)
_SQL_DD_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS t
  FROM documents
),
h AS (SELECT id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS hv FROM tok),
v AS (SELECT id, {_SQL_DD_SIMHASH_VOTES} FROM h GROUP BY id),
p AS (SELECT id, ({_SQL_DD_SIMHASH_PACK}) AS u FROM v)
SELECT d.doc_id,
  COALESCE(CAST(CASE WHEN p.u >= 9223372036854775808::HUGEINT
                     THEN p.u - 18446744073709551616::HUGEINT
                     ELSE p.u END AS BIGINT), 0) AS simhash
FROM documents d LEFT JOIN p ON d.doc_id = p.id
"""


def q_k9_webhook_payload(spark, sf_dir):
    """K9 — the webhook's ``check:*`` document as a typed row projection
    (crawl/preprocess_check_data.py:36-55): availability tri-state, status,
    timeout, error, split content-type, content-length with the reference's
    ``int(...) or None`` zero→NULL quirk. Serialization to JSON is
    transport; the payload semantics are the columns."""
    ev = _t(spark, sf_dir, "events")
    status = (F.lit(200) + F.col("event_id") % 300).cast("int")
    clen = (F.col("event_id") % 5000).cast("long")
    return ev.select(
        "event_id",
        is_valid_status(status).alias("check_available"),
        status.cast("long").alias("check_status"),
        (F.col("event_type") == "error").alias("check_timeout"),
        F.when(F.col("event_type") == "error", F.lit("crawl failed")).alias("check_error"),
        split_content_type(
            F.concat(F.col("event_type"), F.lit("; charset=utf-8"))
        ).alias("content_type"),
        F.when(clen != 0, clen).alias("content_length"),  # `int(x) or None`
    )


_SQL_K9 = """
SELECT event_id,
  CASE WHEN 200 + event_id % 300 = 429 THEN NULL
       WHEN 200 + event_id % 300 < 400 THEN TRUE ELSE FALSE END AS check_available,
  200 + event_id % 300 AS check_status,
  event_type = 'error' AS check_timeout,
  CASE WHEN event_type = 'error' THEN 'crawl failed' END AS check_error,
  trim(string_split(event_type || '; charset=utf-8', ';')[1]) AS content_type,
  CASE WHEN event_id % 5000 <> 0 THEN event_id % 5000 END AS content_length
FROM events
"""


def q_mm_frame_sample(spark, sf_dir):
    """Multimodal frame-sampling plan: video duration metadata →
    (media_id, frame_ts) rows via sequence+explode — pure JVM row
    generation, no Python in the path."""
    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("content"),
        F.lit("video/mp4").alias("mime_type"),
        F.create_map(
            F.lit("duration_s"), (F.col("n_chars") % 60).cast("string")
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_n_seconds=5)


_SQL_MM_FRAMES = """
SELECT doc_id AS media_id, unnest(range(0, CAST(n_chars % 60 AS BIGINT) + 1, 5)) AS frame_ts
FROM documents
"""


def _sql_tx_bpe() -> str:
    from udata_datalake_service_spark.llm.text import BPE_SPLIT_RE

    pat = BPE_SPLIT_RE.replace("'", "''")
    return f"""
SELECT doc_id,
  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_words,
  len(regexp_extract_all(text, '{pat}')) AS n_bpe_pieces
FROM documents
"""


_SQL_TX_BPE = _sql_tx_bpe()


# =========================================================================
# Folded families (round 3)
# =========================================================================
# The driver attests the first 50 ``queries()`` entries. To fit the whole
# catalog inside that window, near-duplicate queries are folded into one
# registry row each (union with a ``variant``/``method`` label, or a wider
# projection over the same scan). The standalone builders above remain the
# API surface and keep their per-operator plan-shape tests; the folded row
# is what the driver replays against the folded oracle.


def q_f_scalar_surface_full(spark, sf_dir):
    """F1/F8/F9/F11 + F12/F13 in one projection over events: md5 naming,
    domain extraction, content-type split, tri-state HTTP validity, UUID
    validation, ISO-8601 offset parsing with UTC coercion."""
    ev = _t(spark, sf_dir, "events")
    url = F.concat(F.lit("https://"), F.col("event_type"), F.lit(".example.org/p?x=1"))
    ct = F.concat(F.col("event_type"), F.lit("; charset=utf-8"))
    status = (F.lit(200) + F.col("event_id") % 300).cast("int")
    h = F.md5(F.col("event_id").cast("string"))
    uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12),
    )
    uuid = F.when(F.col("event_id") % 3 == 0, F.regexp_replace(uuid, "-", "_")).otherwise(uuid)
    is_valid_uuid = uuid.rlike("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
    iso = F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("+02:00"))
    reparsed = F.to_timestamp(iso, "yyyy-MM-dd'T'HH:mm:ssXXX")
    return ev.select(
        "event_id",
        F.md5("event_type").alias("et_md5"),
        domain_of(url).alias("domain"),
        split_content_type(ct).alias("content_type"),
        status.cast("long").alias("status"),
        is_valid_status(status).alias("is_valid"),
        uuid.alias("uuid"),
        is_valid_uuid.alias("uuid_valid"),
        F.unix_micros(reparsed).alias("utc_us"),
    )


_SQL_FSC_FULL = f"""
WITH x AS (
  SELECT event_id, ts, event_type, md5(CAST(event_id AS VARCHAR)) AS h FROM events
), u AS (
  SELECT event_id, ts, event_type,
    substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-' ||
    substr(h,17,4) || '-' || substr(h,21,12) AS uuid0
  FROM x
)
SELECT event_id, md5(event_type) AS et_md5,
  regexp_extract('https://' || event_type || '.example.org/p?x=1', '{DOMAIN_REGEX}', 1) AS domain,
  trim(string_split(event_type || '; charset=utf-8', ';')[1]) AS content_type,
  200 + event_id % 300 AS status,
  CASE WHEN 200 + event_id % 300 = 429 THEN NULL
       WHEN 200 + event_id % 300 >= 200 AND 200 + event_id % 300 < 400 THEN TRUE
       ELSE FALSE END AS is_valid,
  CASE WHEN event_id % 3 = 0 THEN replace(uuid0, '-', '_') ELSE uuid0 END AS uuid,
  regexp_matches(
    CASE WHEN event_id % 3 = 0 THEN replace(uuid0, '-', '_') ELSE uuid0 END,
    '^[0-9a-f]{{8}}-[0-9a-f]{{4}}-[0-9a-f]{{4}}-[0-9a-f]{{4}}-[0-9a-f]{{12}}$') AS uuid_valid,
  epoch_us(CAST(strftime(ts, '%Y-%m-%dT%H:%M:%S') || '+02:00' AS TIMESTAMPTZ)) AS utc_us
FROM u
"""


def q_a1_group_topk_both(spark, sf_dir):
    """A1 — group-by-expression top-k, plain column + JSON-expression
    variants unioned under a label."""
    ev = _t(spark, sf_dir, "events")
    plain = top_k_groups(ev, "event_type", k=20).withColumn("variant", F.lit("plain"))
    js = top_k_groups(ev, F.get_json_object("props", "$.k"), k=20).withColumn(
        "variant", F.lit("json")
    )
    return plain.unionByName(js)


_SQL_A1_BOTH = f"""
SELECT value, count, 'plain' AS variant FROM ({_SQL_A1})
UNION ALL
SELECT value, count, 'json' AS variant FROM ({_SQL_A1J})
"""


def q_a9_profile(spark, sf_dir):
    """A9 — the full csv_detective-style profile block: numeric stats
    (long-form per column) plus per-column top-10 values, one row kind per
    branch with NULL padding."""
    li = _t(spark, sf_dir, "lineitem")
    numeric = profile_df(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    ev = _t(spark, sf_dir, "events")
    # r13 opt (guide §2.3 one pass): both per-column top-10s come from ONE
    # events scan — unpivot to (column, value) rows, one count aggregate,
    # then a per-column rank that Spark 4 plans as WindowGroupLimit
    # (map-side partial top-10, so the rank shuffle carries ≤10 rows per
    # column per map task). The old per-column orderBy().limit(10) pair
    # scanned events twice. Row_number over the identical total order
    # (count DESC, value ASC NULLS LAST) selects the identical 10 rows.
    unpivoted = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("column"),
                        F.col(name).cast("string").alias("value"),
                    )
                    for name in ("event_type", "user_id")
                ]
            )
        ).alias("cv")
    ).select("cv.column", "cv.value")
    counts = unpivoted.groupBy("column", "value").agg(F.count(F.lit(1)).alias("count"))
    w = Window.partitionBy("column").orderBy(F.desc("count"), F.asc_nulls_last("value"))
    tops = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .select("value", "count", "column")
    )
    return numeric.unionByName(tops, allowMissingColumns=True)


_SQL_A9_FULL = f"""
SELECT "column", n, nulls, nb_distinct, min_v, max_v, mean_v, std_v,
       CAST(NULL AS VARCHAR) AS value, CAST(NULL AS BIGINT) AS count
FROM ({_SQL_A9})
UNION ALL
SELECT "column", NULL, NULL, NULL, NULL, NULL, NULL, NULL, value, count
FROM ({_SQL_A9T})
"""


def q_dd_ngram_jaccard_both(spark, sf_dir):
    """n-gram Jaccard pairs: exact inverted-index variant plus the
    max_df=100 stop-shingle skew control, labeled. Both variants share
    ONE persisted shingle index — the corpus shingling pass runs once."""
    from udata_datalake_service_spark.llm.dedup import shingle_index

    d = _tw(spark, sf_dir, "documents")
    idx = shingle_index(d, k=2).persist()
    # keep the raw operator returns: adopted caches live on THEM (a
    # withColumn derivative is a new DataFrame without the attribute)
    exact0 = ngram_jaccard_pairs(d, k=2, threshold=0.35, index=idx)
    capped0 = ngram_jaccard_pairs(d, k=2, threshold=0.35, max_df=100, index=idx)
    exact = exact0.withColumn("variant", F.lit("exact"))
    capped = capped0.withColumn("variant", F.lit("maxdf100"))
    # idx + the capped variant's derived max_df cache (adopted) both die here
    return settle(exact.unionByName(capped), idx, *adopted(exact0, capped0))


_SQL_DD_NGRAM_BOTH = f"""
SELECT id_a, id_b, jaccard, 'exact' AS variant FROM ({_SQL_DD_NGRAM})
UNION ALL
SELECT id_a, id_b, jaccard, 'maxdf100' AS variant FROM ({_SQL_DD_NGRAM_MAXDF})
"""


def q_tx_text_metrics(spark, sf_dir):
    """Language ID + quality block + BPE-ish piece count + duplicated-
    bigram repetition ratio in ONE projection over one documents scan —
    folding four per-doc text queries actually removes three scans.

    r13 opt (guide §4 "pay the expensive expression once"): the token
    array and every count derived from it are STAGED projections —
    inline, each of detect_language/quality_score/stopword_ratio/
    repetition_ratio re-ran the full-document tokenize (higher-order
    functions are outside codegen subexpression elimination), ~10
    tokenizes per row. Values are expression-for-expression identical
    to the inline helpers (same oracle)."""
    from udata_datalake_service_spark.llm.text import (
        bpe_token_count,
        detect_language_from_hits,
        email_count,
        url_count,
        word_bigrams,
    )

    d = _tw(spark, sf_dir, "documents")
    c = F.col("text")
    t = F.col("__t")
    s1 = d.select("doc_id", "lang", "text", tokens(c).alias("__t"))
    # F.filter invokes the lambda eagerly, so the loop-variable closure
    # is safe (and it must stay 1-arg: a second parameter would be read
    # as the positional-index signature)
    hit_cols = [
        F.size(F.filter(t, lambda x: x.isin(*markers))).alias(f"__h_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    s2 = s1.select(
        "doc_id",
        "lang",
        "text",
        F.size(t).alias("__n"),
        F.length(F.array_join(t, "")).alias("__alen"),
        F.size(F.array_distinct(word_bigrams(t))).alias("__nbd"),
        F.length(c).alias("__len"),
        F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", "")).alias("__npunct"),
        *hit_cols,
    )
    n = F.col("__n")
    # the raw (unrounded) ratios quality_score thresholds on, rebuilt
    # from the staged integers with the identical expression shapes.
    # __h_en doubles as the STOPWORD hit count — valid only while
    # STOPWORDS ≡ LANG_MARKERS["en"] (llm/text.py defines it that way);
    # the guard turns a future divergence of either constant into a
    # loud error instead of a silently drifted stopword_ratio/quality
    # (VERDICT r13 "What's wrong" item 3).
    from udata_datalake_service_spark.llm.text import STOPWORDS

    if STOPWORDS != LANG_MARKERS["en"]:
        raise RuntimeError(
            "q_tx_text_metrics reuses __h_en as the stopword hit count; "
            "STOPWORDS and LANG_MARKERS['en'] have diverged — stage a "
            "separate stopword count here"
        )
    praw = F.when(
        F.col("__len") > 0, F.col("__npunct").cast("double") / F.col("__len")
    ).otherwise(F.lit(0.0))
    sraw = F.when(n > 0, F.col("__h_en").cast("double") / n).otherwise(F.lit(0.0))
    mean_wlen = F.when(n > 0, F.col("__alen").cast("double") / n).otherwise(
        F.lit(0.0)
    )
    quality = F.round(
        ((n >= 5) & (n <= 100000)).cast("double") * 0.4
        + (praw <= 0.2).cast("double") * 0.2
        + (sraw >= 0.01).cast("double") * 0.2
        + ((mean_wlen >= 2.0) & (mean_wlen <= 12.0)).cast("double") * 0.2,
        4,
    )
    rep = F.when(
        n >= 2, (n - 1 - F.col("__nbd")).cast("double") / (n - 1)
    ).otherwise(F.lit(0.0))
    return s2.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        detect_language_from_hits(
            {lang: F.col(f"__h_{lang}") for lang in LANG_MARKERS}
        ).alias("lang_detected"),
        n.cast("long").alias("n_tokens"),
        F.round(praw, 4).alias("punct_ratio"),
        F.round(sraw, 4).alias("stopword_ratio"),
        quality.alias("quality"),
        bpe_token_count(c).alias("n_bpe_pieces"),
        F.round(rep, 4).alias("rep_ratio"),
        url_count(c).cast("long").alias("n_urls"),
        email_count(c).cast("long").alias("n_emails"),
    )


_SQL_TX_METRICS = f"""
SELECT s.doc_id, l.lang_declared, l.lang_detected, s.n_tokens, s.punct_ratio,
       s.stopword_ratio, s.quality, b.n_bpe_pieces, r.rep_ratio,
       len(regexp_extract_all(d.text, 'https?://[^\\s]+')) AS n_urls,
       len(regexp_extract_all(lower(d.text),
           '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS n_emails
FROM documents d
JOIN ({_SQL_TX_STATS}) s ON d.doc_id = s.doc_id
JOIN ({_SQL_TX_LANGID}) l ON s.doc_id = l.doc_id
JOIN ({_SQL_TX_BPE}) b ON s.doc_id = b.doc_id
JOIN (
  SELECT doc_id,
    ROUND(CASE WHEN len(t) >= 2 THEN
      CAST(len(t) - 1 - len(list_distinct(
        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
      )) AS DOUBLE) / (len(t) - 1)
    ELSE 0.0 END, 4) AS rep_ratio
  FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM documents) x
) r ON s.doc_id = r.doc_id
"""


def q_tx_fingerprint_both(spark, sf_dir):
    """Stream-md5 canonical fingerprint + Karp-Rabin rolling fingerprint,
    one scan (r13 opt: one staged tokenize serves both — see llm/text.py)."""
    from udata_datalake_service_spark.llm.text import (
        fingerprint_from,
        rolling_fingerprint_from,
    )

    d = _tw(spark, sf_dir, "documents")
    return d.select("doc_id", tokens(F.col("text")).alias("__t")).select(
        "doc_id",
        fingerprint_from(F.col("__t")).alias("fp"),
        rolling_fingerprint_from(F.col("__t")).alias("rfp"),
    )


_SQL_TX_FP_BOTH = f"""
SELECT doc_id, md5(array_to_string({_SQL_TOKS}, ' ')) AS fp,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform({_SQL_TOKS},
        t -> (('0x' || substr(md5(t), 1, 8))::UBIGINT)::BIGINT)),
    (acc, x) -> (acc * 257 + x) % 2147483647) AS rfp
FROM documents
"""


def q_ann_topk(spark, sf_dir):
    """ANN top-10 for query vectors vec_id < 5 by all three strategies —
    exact broadcast baseline, sign-LSH buckets, IVF probing — labeled by
    method. All deterministic; the oracle replays each in SQL."""
    e = _tw(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = (
        brute_force_topk(e, q, k=10, dim=64)
        .withColumnRenamed("rank", "rnk")
        .withColumn("method", F.lit("exact"))
    )
    lsh = (
        lsh_bucketed_topk(e, q, k=10)
        .withColumnRenamed("rank", "rnk")
        .withColumn("method", F.lit("lsh"))
    )
    ivf = (
        ivf_topk(e, q, k=10, num_lists=16, num_probes=4)
        .withColumnRenamed("rank", "rnk")
        .withColumn("method", F.lit("ivf"))
    )
    return bf.unionByName(lsh).unionByName(ivf)


_SQL_ANN_ALL = f"""
SELECT query_id, neighbor_id, cos, rnk, 'exact' AS method FROM ({_SQL_ANN_TOPK})
UNION ALL
SELECT query_id, neighbor_id, cos, rnk, 'lsh' AS method FROM ({_SQL_ANN_LSH})
UNION ALL
SELECT query_id, neighbor_id, cos, rnk, 'ivf' AS method FROM ({_SQL_ANN_IVF})
"""


def q_ann_recall(spark, sf_dir):
    """Recall@10 of the two approximate ANN paths against the exact
    baseline, per probe query (vec_id < 5) — the index-quality gate run
    before trusting an LSH/IVF configuration at scale (llm/similarity
    .recall_at_k). The exact table persists: it feeds both methods'
    scorecards (and each scorecard reads it twice — totals + hits)."""
    from udata_datalake_service_spark.llm.similarity import recall_at_k

    e = _tw(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(e, q, k=10, dim=64).persist()
    lsh = recall_at_k(exact, lsh_bucketed_topk(e, q, k=10)).withColumn(
        "method", F.lit("lsh")
    )
    ivf = recall_at_k(
        exact, ivf_topk(e, q, k=10, num_lists=16, num_probes=4)
    ).withColumn("method", F.lit("ivf"))
    return settle(lsh.unionByName(ivf), exact)


_SQL_ANN_RECALL = f"""
WITH ex AS (SELECT query_id, neighbor_id FROM ({_SQL_ANN_TOPK})),
ap AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM ({_SQL_ANN_LSH})
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ({_SQL_ANN_IVF})
),
m AS (SELECT 'lsh' AS method UNION ALL SELECT 'ivf'),
tot AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY query_id),
hits AS (
  SELECT ap.method, ap.query_id, COUNT(*) AS n_hit
  FROM ap JOIN ex ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
  GROUP BY 1, 2
)
SELECT t.query_id, t.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
  ROUND(COALESCE(h.n_hit, 0) / CAST(t.n_exact AS DOUBLE), 6) AS recall,
  m.method
FROM m CROSS JOIN tot t
LEFT JOIN hits h ON h.method = m.method AND h.query_id = t.query_id
"""


def q_dd_jaccard_prefix(spark, sf_dir):
    """AllPairs/PPJoin prefix-filtered exact Jaccard pairs — the LOSSLESS
    scale path (llm/dedup.ngram_jaccard_pairs_prefix): only each doc's
    rarest |x|−⌈t|x|⌉+1 shingles enter the candidate join, verification
    is array_intersect on the candidates. Oracle: the SAME full-join SQL
    as dd_ngram_jaccard's exact variant — the prefix theorem says the
    result set is identical, and the driver hash-checks that claim."""
    from udata_datalake_service_spark.llm.dedup import ngram_jaccard_pairs_prefix

    d = _tw(spark, sf_dir, "documents")
    return settle(ngram_jaccard_pairs_prefix(d, k=2, threshold=0.35))


def q_curriculum(spark, sf_dir):
    """Length-based curriculum binning over documents: 4 token-count
    quantile buckets (short→long — the standard curriculum/packing
    scheduling axis; the discrete 0.2-grid quality score collapses all
    quartiles to one value, so length is the demonstrative continuous
    score) with doc/token volume and length stats per bucket
    (llm/mixing.curriculum_buckets; boundaries from one tiny percentile
    aggregate, bucketing map-only)."""
    from udata_datalake_service_spark.llm.mixing import curriculum_buckets

    d = _tw(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", token_count(F.col("text")).alias("__n")
    ).select(
        "doc_id",
        F.col("__n").cast("long").alias("n_tokens"),
        F.col("__n").cast("double").alias("len_score"),
    )
    return curriculum_buckets(
        scored, score="len_score", n_buckets=4, token_col="n_tokens"
    )


_SQL_CURRICULUM = f"""
WITH sc AS (
  SELECT doc_id, len({_SQL_TOKS}) AS n_tokens,
    CAST(len({_SQL_TOKS}) AS DOUBLE) AS q
  FROM documents
), b AS (SELECT quantile_cont(q, [0.25, 0.5, 0.75]) AS bs FROM sc)
SELECT
  CAST(1 + CASE WHEN q > bs[1] THEN 1 ELSE 0 END
         + CASE WHEN q > bs[2] THEN 1 ELSE 0 END
         + CASE WHEN q > bs[3] THEN 1 ELSE 0 END AS BIGINT) AS bucket,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  MIN(q) AS score_min, MAX(q) AS score_max,
  ROUND(SUM(CAST(round(q * 1000000, 0) AS BIGINT)) / (COUNT(q) * 1000000.0), 6)
    AS score_mean
FROM sc CROSS JOIN b
GROUP BY 1
"""


def q_mm_jpeg_meta(spark, sf_dir):
    """Real-JPEG decode end-to-end (llm/jpeg.py): executors ENCODE one
    grayscale JPEG per 5th document (flat gray, doc_id-varying dims,
    every 10th with restart markers, every 3rd PROGRESSIVE/SOF2 — the
    majority coding of web-crawl JPEG), then the decode ladder's vendored
    codec DECODES them distributedly (Huffman → dequant → IDCT; Annex G
    scan ladder for the progressive files) inside
    extract_image_features. Flat blocks at unit quantization are
    DCT-exact in BOTH codings, so the oracle can state true width/height
    and the exact single-bin luminance histogram per doc — any codec
    defect (bit alignment, predictor reset, EOB-run bookkeeping, crop,
    level shift) breaks the hash."""
    from udata_datalake_service_spark.llm.multimodal import (
        extract_image_features,
        jpeg_media_from_documents,
    )

    d = _t(spark, sf_dir, "documents")
    feats = extract_image_features(jpeg_media_from_documents(d))
    # stub rate as a measured column (r7 task): decode_source names the
    # ladder rung per file; histogram-derived stats are only trusted on
    # fully-decoded rows (the arithmetic-coded files report REAL header
    # dims but a stub byte histogram, which no SQL oracle can replay).
    # pillow/vendored NORMALIZE to one 'decoded' value here (ADVICE r8):
    # the ladder prefers Pillow when installed, and which real rung ran
    # is an environment fact, not a property of the data — pinning
    # 'vendored' made oracle parity depend on the container shipping no
    # Pillow. The raw rung stays observable via extract_image_features.
    decoded = F.col("decode_source").isin("pillow", "vendored")
    return feats.select(
        "media_id",
        "width",
        "height",
        F.when(
            decoded,
            (F.array_position(F.col("histogram"), 1.0) - 1).cast("int"),
        ).alias("dominant_bin"),
        F.when(decoded, F.array_max("histogram")).alias("bin_share"),
        F.when(decoded, F.lit("decoded"))
        .otherwise(F.col("decode_source"))
        .alias("decode_source"),
    )


_SQL_MM_JPEG = """
SELECT doc_id AS media_id,
  CAST(16 + 8 * (doc_id % 3) AS INTEGER) AS width,
  CAST(8 + 8 * (doc_id % 2) AS INTEGER) AS height,
  CASE WHEN (doc_id // 5) % 7 = 6 THEN NULL
       ELSE CAST(((doc_id * 37) % 256) // 32 AS INTEGER) END AS dominant_bin,
  CASE WHEN (doc_id // 5) % 7 = 6 THEN NULL
       ELSE CAST(1.0 AS DOUBLE) END AS bin_share,
  CASE WHEN (doc_id // 5) % 7 = 6 THEN 'stub-dims'
       ELSE 'decoded' END AS decode_source
FROM documents WHERE doc_id % 5 = 0
"""


def q_mm_media_meta(spark, sf_dir):
    """Image + audio decode plumbing joined per media id — both
    mapInPandas kernels run; the oracle replays both stubs' math."""
    from udata_datalake_service_spark.llm.multimodal import extract_audio_features

    d = _t(spark, sf_dir, "documents")
    media = fake_media_from_documents(d)
    img = extract_image_features(media).select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "n_bytes",
        # text-bytes payloads are not decodable media: the ladder must
        # report the bottom rung, and the oracle pins it — a regression
        # that silently routed garbage through a 'real' rung would break
        # the hash here, and a real corpus measures its stub share by
        # grouping on this column
        "decode_source",
    )
    aud = extract_audio_features(
        media.withColumn("kind", F.lit("audio")), target_rate=16000
    ).select(
        "media_id",
        "n_samples",
        "sample_rate",
        "duration_ms",
        F.col("decode_source").alias("audio_decode_source"),
    )
    return img.join(aud, "media_id")


_SQL_MM_MEDIA = """
SELECT doc_id AS media_id,
  64 + (strlen(text) % 512) AS width,
  64 + ((strlen(text) // 7) % 512) AS height,
  strlen(text) AS n_bytes,
  'stub' AS decode_source,
  strlen(text) // 2 AS n_samples,
  16000 AS sample_rate,
  (strlen(text) // 2) * 1000 // 16000 AS duration_ms,
  'stub' AS audio_decode_source
FROM documents
"""


# =========================================================================
# Round-4 operators: as-of join
# =========================================================================
def _asof_sides(spark, sf_dir):
    """Left = click events, right = view events deduped per (user, ts)
    (latest event_id wins — the determinism contract asof_join documents)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("view_event_id"),
            F.col("value").alias("view_value"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    return clicks, views


def q_asof_join(spark, sf_dir):
    """As-of join, all three modes folded: for each click, the nearest view
    by the same user — backward (latest at-or-before), backward within a
    1-hour tolerance, and forward (earliest at-or-after). The operator is
    the union+window plan in operators/asof.py (one shuffle on the key, no
    range-join explosion); the oracle is DuckDB's native ASOF JOIN."""
    from udata_datalake_service_spark.operators.asof import asof_join

    clicks, views = _asof_sides(spark, sf_dir)

    def leg(name, **kw):
        out = asof_join(
            clicks, views, on="user_id", left_ts="ts", right_ts="ts",
            value_cols=["view_event_id", "view_value"], **kw
        )
        return out.select(
            F.lit(name).alias("leg"),
            "event_id",
            "user_id",
            _us(F.col("ts")).alias("ts_us"),
            "value",
            "asof_view_event_id",
            _us(F.col("asof_ts")).alias("asof_ts_us"),
            "asof_view_value",
        )

    return (
        leg("backward", direction="backward")
        .unionByName(leg("tol_1h", direction="backward", tolerance_us=3_600_000_000))
        .unionByName(leg("forward", direction="forward"))
    )


_SQL_ASOF_SIDES = """
r AS (
  SELECT user_id, ts, event_id AS view_event_id, value AS view_value
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) rn
        FROM events WHERE event_type = 'view') WHERE rn = 1
), l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
)
"""

_SQL_ASOF = f"""
WITH {_SQL_ASOF_SIDES}
SELECT 'backward' AS leg, l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
  r.view_event_id AS asof_view_event_id, epoch_us(r.ts) AS asof_ts_us,
  r.view_value AS asof_view_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
UNION ALL
SELECT 'tol_1h', l.event_id, l.user_id, epoch_us(l.ts), l.value,
  CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000 THEN r.view_event_id END,
  CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000 THEN epoch_us(r.ts) END,
  CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000 THEN r.view_value END
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
UNION ALL
SELECT 'forward', l.event_id, l.user_id, epoch_us(l.ts), l.value,
  r.view_event_id, epoch_us(r.ts), r.view_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
"""


# =========================================================================
# Round-4 operators: sessionization
# =========================================================================
_SESSION_GAP_S = 8 * 3600  # ~median inter-event gap is 7.5 h → healthy split


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization + per-session rollup (operators/sessions.py):
    8-hour inactivity gap per user over events; one shuffle on the key.
    The native ``F.session_window`` formulation is pinned equal by pytest —
    this query attests the lag-window form against the SQL replay."""
    from udata_datalake_service_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(
        ev,
        ["user_id"],
        "ts",
        _SESSION_GAP_S,
        tie_break=["event_id"],
        aggs=[
            _dsum(F.col("value")).alias("sum_value"),
            F.count_distinct(F.col("event_type")).alias("n_types"),
        ],
    )


_SQL_SESSIONS = f"""
WITH x AS (
  SELECT user_id, ts, event_id, value, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= {_SESSION_GAP_S * 1_000_000}
         THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  -- CAST: DuckDB SUM() yields HUGEINT, which pandas-converts to float64
  -- ("3.0" vs "3") and breaks the driver's value hash even when every
  -- cell is numerically identical (root cause of the r4 hash-red).
  SELECT *, CAST(SUM(is_start) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING
  ) AS BIGINT) AS session_idx
  FROM x
)
SELECT user_id, session_idx,
  epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
  COUNT(DISTINCT event_type) AS n_types
FROM s GROUP BY user_id, session_idx
"""


# =========================================================================
# Round-4 operators: sequence packing
# =========================================================================
_PACK_BUDGET = 512
_PACK_BUCKETS = 8


def q_pack_stream(spark, sf_dir):
    """Concatenated-stream sequence packing (llm/packing.py): documents laid
    out on 8 deterministic token streams, each split into 512-token training
    chunks; every doc reports its chunk span and offset. The greedy
    first-fit variant (docs never straddle chunks) is pytest-pinned via
    invariants — FFD's pack layout is order-dependent state, not SQL."""
    from udata_datalake_service_spark.llm.packing import pack_stream

    d = _tw(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    out = pack_stream(d, "doc_id", "n_tokens", _PACK_BUDGET, _PACK_BUCKETS)
    return out.select(
        "doc_id", "n_tokens", "bucket", "cum_before",
        "chunk_first", "chunk_last", "n_chunks", "offset_in_chunk",
    )


_SQL_PACK = f"""
WITH d AS (
  SELECT doc_id, len({_SQL_TOKS}) AS n_tokens, doc_id % {_PACK_BUCKETS} AS bucket
  FROM documents
), c AS (
  -- CAST: SUM() is HUGEINT in DuckDB → float64 in pandas → driver hash
  -- mismatch ("512.0" vs "512"); BIGINT keeps the whole derived chain
  -- (//, %) integral. Root cause of the r4 hash-red on this query.
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
    PARTITION BY bucket ORDER BY doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ), 0) AS BIGINT) AS cum_before
  FROM d
)
SELECT doc_id, n_tokens, bucket, cum_before,
  cum_before // {_PACK_BUDGET} AS chunk_first,
  (cum_before + n_tokens - 1) // {_PACK_BUDGET} AS chunk_last,
  (cum_before + n_tokens - 1) // {_PACK_BUDGET} - cum_before // {_PACK_BUDGET} + 1 AS n_chunks,
  cum_before % {_PACK_BUDGET} AS offset_in_chunk
FROM c
"""


# =========================================================================
# Round-4 operators: benchmark contamination
# =========================================================================
# (_CONTAM_K moved next to _SQL_TOKS — curate_zipf's oracle, defined
# earlier in the file, interpolates it at module-eval time)


def q_contamination(spark, sf_dir):
    """Benchmark-contamination report (llm/contamination.py): docs sharing
    verbatim 3-grams with the stand-in eval set (k is 8-13 in production
    decontamination; 3 here so the synthetic corpus exercises the shape) (every 13th doc). The eval
    side is broadcast — the corpus never shuffles its text."""
    from udata_datalake_service_spark.llm.contamination import contamination_report

    d = _tw(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 13 != 0)
    bench = d.filter(F.col("doc_id") % 13 == 0)
    return contamination_report(corpus, bench, k=_CONTAM_K)


_SQL_CONTAM = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), corpus AS (
  SELECT doc_id, unnest({_sql_shingles(_CONTAM_K)}) AS ngram
  FROM tok WHERE len(t) >= {_CONTAM_K} AND doc_id % 13 <> 0
), bench AS (
  SELECT doc_id AS bid, unnest({_sql_shingles(_CONTAM_K)}) AS ngram
  FROM tok WHERE len(t) >= {_CONTAM_K} AND doc_id % 13 = 0
)
SELECT c.doc_id, COUNT(DISTINCT c.ngram) AS n_shared_ngrams,
       COUNT(DISTINCT b.bid) AS n_bench_docs
FROM corpus c JOIN bench b USING (ngram)
GROUP BY c.doc_id
"""


# =========================================================================
# Round-4 operators: PII redaction
# =========================================================================
def q_pii_redact(spark, sf_dir):
    """PII detect + redact (llm/text.py): the synthetic corpus carries no
    PII, so each doc gets a deterministic injected payload (email / phone /
    IPv4 by doc_id mod 3 — both engines build the identical string); the
    oracle hash-pins the exact redacted text and per-category counts."""
    from udata_datalake_service_spark.llm.text import pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com asap"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit(" call +33 1 23 45 67 89 or (555) 867-5309 now"),
        )
        .otherwise(
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 responded"),
            )
        ),
    )
    d = d.withColumn("__t", injected)
    counts = pii_counts(F.col("__t"))
    return d.select(
        "doc_id",
        counts["n_emails"].cast("long").alias("n_emails"),
        counts["n_ips"].cast("long").alias("n_ips"),
        counts["n_phones"].cast("long").alias("n_phones"),
        F.md5(redact_pii(F.col("__t"))).alias("redacted_md5"),
        F.length(redact_pii(F.col("__t"))).cast("long").alias("redacted_len"),
    )


_SQL_PII = """
WITH inj AS (
  SELECT doc_id, text || CASE
    WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com asap'
    WHEN doc_id % 3 = 1 THEN ' call +33 1 23 45 67 89 or (555) 867-5309 now'
    ELSE ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 responded'
  END AS t
  FROM documents
), staged AS (
  SELECT doc_id, t,
    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s1
  FROM inj
), staged2 AS (
  SELECT *, regexp_replace(s1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS s2
  FROM staged
)
SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
  len(regexp_extract_all(s1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ips,
  len(regexp_extract_all(s2, '\\+?\\d[\\d().\\- ]{6,}\\d')) AS n_phones,
  md5(regexp_replace(s2, '\\+?\\d[\\d().\\- ]{6,}\\d', '<PHONE>', 'g')) AS redacted_md5,
  len(regexp_replace(s2, '\\+?\\d[\\d().\\- ]{6,}\\d', '<PHONE>', 'g')) AS redacted_len
FROM staged2
"""


# =========================================================================
# Round-4 operators: domain mixing
# =========================================================================
_MIX_RATES = {"en": 2.5, "fr": 1.0, "de": 0.5, "es": 0.25}  # zh dropped


def q_domain_mix(spark, sf_dir):
    """Stratified domain mixing (llm/mixing.py): documents resampled to a
    target per-language mixture — en upsampled 2.5×, fr kept, de/es
    downsampled, zh dropped. Emits every replica (doc_id, copy_idx) plus
    the per-stratum mixture report, folded."""
    from udata_datalake_service_spark.llm.mixing import mixture_report, stratified_mix

    d = _t(spark, sf_dir, "documents")
    mixed = stratified_mix(d, "lang", _MIX_RATES, key_cols=["doc_id"], seed="mix0")
    rows = mixed.select(
        F.lit("row").alias("leg"),
        F.col("lang"),
        F.col("doc_id"),
        F.col("copy_idx"),
        F.lit(None).cast("long").alias("n_in"),
        F.lit(None).cast("long").alias("n_out"),
        F.lit(None).cast("double").alias("achieved_rate"),
    )
    rep = mixture_report(d, mixed, "lang").select(
        F.lit("report").alias("leg"),
        F.col("lang"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("copy_idx"),
        "n_in",
        "n_out",
        "achieved_rate",
    )
    return rows.unionByName(rep)


def _sql_mix_rate(col: str) -> str:
    branches = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(_MIX_RATES.items())
    )
    return f"CASE {col} {branches} ELSE 0.0 END"


_SQL_MIX = f"""
WITH d AS (
  SELECT doc_id, lang, {_sql_mix_rate('lang')} AS rate,
    (('0x' || substr(md5('mix0' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT)::BIGINT
      / 4294967296.0 AS u
  FROM documents
), withn AS (
  SELECT doc_id, lang,
    CAST(FLOOR(rate) AS BIGINT)
      + CASE WHEN u < rate - FLOOR(rate) THEN 1 ELSE 0 END AS n_copies
  FROM d
), mixed AS (
  SELECT doc_id, lang, unnest(range(0, n_copies)) AS copy_idx
  FROM withn WHERE n_copies >= 1
)
SELECT 'row' AS leg, lang, doc_id, copy_idx,
  CAST(NULL AS BIGINT) AS n_in, CAST(NULL AS BIGINT) AS n_out,
  CAST(NULL AS DOUBLE) AS achieved_rate
FROM mixed
UNION ALL
SELECT 'report', b.lang, NULL, NULL, b.n_in, COALESCE(a.n_out, 0),
  ROUND(COALESCE(a.n_out, 0) * 1.0 / b.n_in, 6)
FROM (SELECT lang, COUNT(*) AS n_in FROM documents GROUP BY lang) b
LEFT JOIN (SELECT lang, COUNT(*) AS n_out FROM mixed GROUP BY lang) a USING (lang)
"""


# =========================================================================
# Round-4 operators: TF-IDF + vocabulary
# =========================================================================
def q_tfidf_vocab(spark, sf_dir):
    """Vocabulary construction + per-doc TF-IDF top terms (llm/tfidf.py),
    folded: leg 'vocab' = top-200 terms by document frequency with stable
    dense ids; leg 'tfidf' = each doc's top-5 terms by smooth tf·idf
    (score rounded before ranking → cross-engine-exact ordering)."""
    from udata_datalake_service_spark.llm.tfidf import build_vocab, tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    vocab = build_vocab(d, max_size=200, min_df=2).select(
        F.lit("vocab").alias("leg"),
        "term",
        "token_id",
        F.col("df").alias("n"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("double").alias("score"),
    )
    top = tfidf_top_terms(d, k=5).select(
        F.lit("tfidf").alias("leg"),
        "term",
        F.col("rank").alias("token_id"),
        F.col("tf").alias("n"),
        "doc_id",
        "score",
    )
    return vocab.unionByName(top)


_SQL_TFIDF = f"""
WITH dt AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM dt GROUP BY doc_id, term
), freqs AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), vocab AS (
  SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS token_id
  FROM freqs WHERE df >= 2
  ORDER BY df DESC, term ASC LIMIT 200
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
    ROUND(tf.tf * (LN((n.n_docs + 1.0) / (freqs.df + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN freqs USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC
  ) AS rank
  FROM scored
)
SELECT 'vocab' AS leg, term, token_id, df AS n,
  CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score
FROM vocab
UNION ALL
SELECT 'tfidf', term, rank, tf, doc_id, score FROM ranked WHERE rank <= 5
"""


# =========================================================================
# Round-4 operators: lake time travel
# =========================================================================
def q_k10_time_travel(spark, sf_dir):
    """Time travel over the versioned lake (sinks/lake.py): write a table,
    rewrite it with updates/deletes/inserts, then read the current version,
    the superseded version (VERSION AS OF), and the row-level diff — all
    four legs folded. Attests that the manifest flip retains the prior
    version readable and that version_diff sees exactly the mutation set."""
    import hashlib
    import shutil

    from udata_datalake_service_spark.sinks.lake import Lake

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    v1 = c.select("c_custkey", "c_name", "c_acctbal")
    v2_updates = v1.filter(F.col("c_custkey") % 7 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100
        ).otherwise(F.col("c_acctbal")),
    )
    v2_inserts = v1.filter(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("new-"), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    v2 = v2_updates.unionByName(v2_inserts)

    root = f"/tmp/spark_hydra_tt_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    shutil.rmtree(root, ignore_errors=True)
    lake = Lake(spark, root)
    lake.write_table(v1, "tt")
    lake.write_table(v2, "tt")

    def leg(name, df):
        return df.select(
            F.lit(name).alias("leg"), "c_custkey", "c_name", "c_acctbal"
        )

    diff = lake.version_diff("tt")
    return (
        leg("current", lake.read_table("tt"))
        .unionByName(leg("previous", lake.read_table_previous("tt")))
        .unionByName(
            diff.select(
                F.col("__change").alias("leg"), "c_custkey", "c_name", "c_acctbal"
            )
        )
    )


_SQL_K10 = """
WITH v1 AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 10 = 0
), v2 AS (
  SELECT c_custkey, c_name,
    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
  FROM v1 WHERE c_custkey % 7 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, 'new-' || c_name, 0.0
  FROM v1 WHERE c_custkey % 5 = 0
)
SELECT 'current' AS leg, * FROM v2
UNION ALL
SELECT 'previous', * FROM v1
UNION ALL
SELECT 'added', * FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
UNION ALL
SELECT 'removed', * FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
"""


# =========================================================================
# Round-4 operators: interval (range) join
# =========================================================================
def q_interval_join(spark, sf_dir):
    """Bucketized interval join (operators/interval.py): signup events open
    a 2-hour window per user; leg 'point_inner' = clicks inside any window,
    leg 'point_left' = every click with its window (or NULLs), leg
    'overlap' = signup windows × overlapping 1-hour error windows. The plan
    is an equi-join on (user, hour-bucket) — no nested-loop range join; the
    oracle is DuckDB's native inequality join."""
    from udata_datalake_service_spark.operators.interval import (
        interval_join,
        interval_join_ranges,
    )

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"), "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("b_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("c_id"),
        "user_id",
        F.col("ts").alias("e_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e_end"),
    )

    caches = []

    def point_leg(name, how):
        j = interval_join(
            clicks, signups, "ts", "w_start", "w_end", on=["user_id"], how=how
        )
        caches.extend(adopted(j))  # the left leg persists its inner join
        return j.select(
            F.lit(name).alias("leg"),
            "user_id",
            "a_id",
            "b_id",
            _us(F.col("ts")).alias("a_us"),
            _us(F.col("w_start")).alias("b_us"),
        )

    overlap = interval_join_ranges(
        signups.withColumnRenamed("b_id", "a_id"),
        errors,
        "w_start",
        "w_end",
        "e_start",
        "e_end",
        on=["user_id"],
    ).select(
        F.lit("overlap").alias("leg"),
        "user_id",
        "a_id",
        F.col("c_id").alias("b_id"),
        _us(F.col("w_start")).alias("a_us"),
        _us(F.col("e_start")).alias("b_us"),
    )
    return settle(
        point_leg("point_inner", "inner")
        .unionByName(point_leg("point_left", "left"))
        .unionByName(overlap),
        *caches,
    )


_SQL_INTERVAL = """
WITH clicks AS (
  SELECT event_id AS a_id, user_id, ts FROM events WHERE event_type = 'click'
), signups AS (
  SELECT event_id AS b_id, user_id, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end
  FROM events WHERE event_type = 'signup'
), errors AS (
  SELECT event_id AS c_id, user_id, ts AS e_start, ts + INTERVAL 1 HOUR AS e_end
  FROM events WHERE event_type = 'error'
)
SELECT 'point_inner' AS leg, c.user_id, c.a_id, s.b_id,
  epoch_us(c.ts) AS a_us, epoch_us(s.w_start) AS b_us
FROM clicks c JOIN signups s
  ON c.user_id = s.user_id AND c.ts >= s.w_start AND c.ts <= s.w_end
UNION ALL
SELECT 'point_left', c.user_id, c.a_id, s.b_id,
  epoch_us(c.ts), epoch_us(s.w_start)
FROM clicks c LEFT JOIN signups s
  ON c.user_id = s.user_id AND c.ts >= s.w_start AND c.ts <= s.w_end
UNION ALL
SELECT 'overlap', s.user_id, s.b_id, e.c_id,
  epoch_us(s.w_start), epoch_us(e.e_start)
FROM signups s JOIN errors e
  ON s.user_id = e.user_id AND s.w_start <= e.e_end AND e.e_start <= s.w_end
"""


# =========================================================================
# Round-4 surface: analytic windows, cube/rollup
# =========================================================================
def q_window_surface(spark, sf_dir):
    """The analytic-window function surface in one frame: lag/lead,
    row_number, ntile, percent_rank, cume_dist, first/last_value with an
    explicit frame, and a running sum — per user over event time. One
    shuffle; every function shares the same window spec, so Catalyst plans
    a single Window node."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("event_id").over(wf).alias("first_event"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(wf)
        .cast("double")
        .alias("running_sum"),
    )


_SQL_WINDOW_SURFACE = """
SELECT event_id, user_id,
  LAG(value) OVER w AS prev_value,
  LEAD(value) OVER w AS next_value,
  ROW_NUMBER() OVER w AS rn,
  NTILE(4) OVER w AS quartile,
  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 6) AS cume,
  FIRST_VALUE(event_id) OVER wf AS first_event,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER wf AS DOUBLE) AS running_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
  wf AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_cube_rollup(spark, sf_dir):
    """Multi-dimensional aggregation: ROLLUP and CUBE over
    (o_orderstatus, o_orderpriority) with grouping_id disambiguation —
    the OLAP surface the reference never needed but any analytics engine
    must have. Spark executes one Expand + one aggregate (grouping-set
    rows share a single shuffle)."""
    o = _t(spark, sf_dir, "orders")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("o_totalprice")).alias("sum_price"),
    ]
    r = o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"), *aggs
    )
    c = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"), *aggs
    )
    return r.withColumn("leg", F.lit("rollup")).unionByName(
        c.withColumn("leg", F.lit("cube"))
    )


_SQL_CUBE_ROLLUP = """
SELECT o_orderstatus, o_orderpriority,
  GROUPING_ID(o_orderstatus, o_orderpriority) AS gid,
  COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  'rollup' AS leg
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
UNION ALL
SELECT o_orderstatus, o_orderpriority,
  GROUPING_ID(o_orderstatus, o_orderpriority),
  COUNT(*),
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
  'cube'
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# =========================================================================
# Folded attestation-window legs (round 4)
# =========================================================================
# The driver attests the first 50 registry entries; to make room for the
# round-4 operators without dropping older queries out of the window, the
# small dashboard/DML/predicate queries below are folded into one frame
# each with a `leg` discriminator column (same style as the round-3 folds:
# each leg's full result survives verbatim, so per-leg semantics stay
# value-hash-attested).


def q_a234_dashboard_aggs(spark, sf_dir):
    """A2+A3+A4 folded — conditional-agg pivots, COALESCE-key histogram,
    pct histogram (routes/status.py:12-139), one tagged union."""
    a2 = q_a2_conditional_agg(spark, sf_dir).select(
        F.expr(
            "stack(4, 'total', total, 'n_f', n_f, 'n_o', n_o, 'n_big', n_big)"
            " as (key, count)"
        )
    ).select(
        F.lit("conditional").alias("leg"),
        "key",
        "count",
        F.lit(None).cast("double").alias("pct"),
    )
    a3 = q_a3_coalesce_group(spark, sf_dir).select(
        F.lit("coalesce_status").alias("leg"),
        F.col("status").alias("key"),
        "count",
        F.lit(None).cast("double").alias("pct"),
    )
    a4 = q_a4_pct_histogram(spark, sf_dir).select(
        F.lit("pct_histogram").alias("leg"),
        F.col("value").alias("key"),
        "count",
        "pct",
    )
    return a2.unionByName(a3).unionByName(a4)


_SQL_A234 = f"""
SELECT 'conditional' AS leg, k AS key, v AS count, CAST(NULL AS DOUBLE) AS pct
FROM (
  SELECT unnest(['total','n_f','n_o','n_big']) AS k,
         unnest([total, n_f, n_o, n_big]) AS v
  FROM ({_SQL_A2})
)
UNION ALL
SELECT 'coalesce_status', status, count, NULL FROM ({_SQL_A3})
UNION ALL
SELECT 'pct_histogram', value, count, pct FROM ({_SQL_A4})
"""


def q_u456_point_dml(spark, sf_dir):
    """U4+U5+U6 folded — point update w/ RETURNING + soft delete, and the
    hard-delete anti-join summary (db/resource.py:56-114, db/check.py:129-133)."""
    u45 = q_u45_point_updates(spark, sf_dir).select(
        F.lit("u45").alias("leg"),
        F.col("c_custkey").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("long").alias("c"),
        F.col("c_name").alias("name"),
        F.col("deleted").alias("flag"),
    )
    u6 = q_u6_hard_delete(spark, sf_dir).select(
        F.lit("u6").alias("leg"),
        F.col("n_kept").alias("a"),
        F.col("min_key").alias("b"),
        F.col("max_key").alias("c"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("boolean").alias("flag"),
    )
    return u45.unionByName(u6)


_SQL_U456 = f"""
SELECT 'u45' AS leg, c_custkey AS a, CAST(NULL AS BIGINT) AS b,
       CAST(NULL AS BIGINT) AS c, c_name AS name, deleted AS flag
FROM ({_SQL_U45})
UNION ALL
SELECT 'u6', n_kept, min_key, max_key, NULL, NULL FROM ({_SQL_U6})
"""


def q_p78_predicate_surface(spark, sf_dir):
    """P7+P8 folded — LIKE/contains/<> predicates and IS NULL / boolean
    predicates (cli.py:195-218, crawl/select_batch.py:47-89)."""
    p7 = q_p7_like_contains(spark, sf_dir).select(
        F.lit("p7").alias("leg"),
        F.col("p_partkey").alias("key"),
        F.col("p_name").alias("s1"),
        F.col("p_type").alias("s2"),
        F.col("p_brand").alias("s3"),
        F.lit(None).cast("long").alias("last_check"),
        F.lit(None).cast("boolean").alias("priority"),
    )
    p8 = q_p8_null_bool_predicates(spark, sf_dir).select(
        F.lit("p8").alias("leg"),
        F.col("event_id").alias("key"),
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
        "last_check",
        "priority",
    )
    return p7.unionByName(p8)


_SQL_P78 = f"""
SELECT 'p7' AS leg, p_partkey AS key, p_name AS s1, p_type AS s2, p_brand AS s3,
       CAST(NULL AS BIGINT) AS last_check, CAST(NULL AS BOOLEAN) AS priority
FROM ({_SQL_P7})
UNION ALL
SELECT 'p8', event_id, NULL, NULL, NULL, last_check, priority FROM ({_SQL_P8})
"""


def q_st45_change_trigger(spark, sf_dir):
    """ST4+ST5 folded — the change-detection cascade and the delta-trigger
    derivation, joined on event_id (the reference computes both in the same
    preprocess_check_data pass; one frame here mirrors that)."""
    st4 = q_st4_change_detection(spark, sf_dir)
    st5 = q_st5_check_delta_trigger(spark, sf_dir).select("event_id", "reason")
    return st4.join(st5, "event_id", "left")


_SQL_ST45 = f"""
SELECT s4.event_id, s4.change_status, s4.change_method, s5.reason
FROM ({_SQL_ST4}) s4 LEFT JOIN ({_SQL_ST5}) s5 USING (event_id)
"""


def q_dd_span_coverage(spark, sf_dir):
    """Span-level (substring) duplication coverage — per document, the
    fraction of 8-token windows (and of tokens) shared verbatim with at
    least one OTHER document. The distributed re-expression of Lee et
    al.'s suffix-array span dedup (see llm/dedup.duplicated_span_coverage)."""
    from udata_datalake_service_spark.llm.dedup import duplicated_span_coverage

    d = _tw(spark, sf_dir, "documents")
    out = duplicated_span_coverage(d, span=8, min_df=2)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
        "dup_window_ratio",
        F.col("covered_tokens").cast("long").alias("covered_tokens"),
        "coverage",
    )


_SQL_DD_SPANS = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM x),
grams AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, n - 8 + 2),
        i -> struct_pack(pos := i, g := array_to_string(t[i:i+7], ' ')))) AS u
    FROM base WHERE n >= 8)
),
dupg AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
dup AS (SELECT grams.doc_id, grams.pos FROM grams JOIN dupg USING (g)),
cov AS (
  -- CAST: DuckDB SUM() → HUGEINT → float64 under pandas conversion,
  -- which broke the driver's value hash in r4 despite identical values.
  SELECT doc_id, count(*) AS n_dup_windows,
         CAST(sum(CASE WHEN nxt IS NULL THEN 8 ELSE least(8, nxt - pos) END) AS BIGINT) AS covered_tokens
  FROM (SELECT doc_id, pos,
          lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM dup)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n AS n_tokens, greatest(b.n - 8 + 1, 0) AS n_windows,
  coalesce(c.n_dup_windows, 0) AS n_dup_windows,
  CASE WHEN greatest(b.n - 8 + 1, 0) > 0
       THEN round(coalesce(c.n_dup_windows, 0) / CAST(greatest(b.n - 8 + 1, 0) AS DOUBLE), 6)
       ELSE 0.0 END AS dup_window_ratio,
  coalesce(c.covered_tokens, 0) AS covered_tokens,
  CASE WHEN b.n > 0
       THEN round(coalesce(c.covered_tokens, 0) / CAST(b.n AS DOUBLE), 6)
       ELSE 0.0 END AS coverage
FROM base b LEFT JOIN cov c USING (doc_id)
"""


_A9Q_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_A9Q_PROBS = (0.25, 0.5, 0.75, 0.9, 0.99)


def q_a9_quantiles(spark, sf_dir):
    """Exact interpolated quantile profile over lineitem's numeric columns
    — one aggregate pass for all columns; Spark percentile() ≡ DuckDB
    quantile_cont bit-for-bit (the approx_percentile/HLL sketch variant is
    the at-scale path, pinned against this one by pytest). Second leg:
    per-GROUP quantiles (o_totalprice by o_orderstatus) — the
    distribution-per-stratum view, labeled 'o_totalprice|<status>'."""
    from udata_datalake_service_spark.operators.profile import (
        quantile_profile,
        quantile_profile_grouped,
    )

    li = _t(spark, sf_dir, "lineitem")
    flat = quantile_profile(li, list(_A9Q_COLS), _A9Q_PROBS)
    orders = _t(spark, sf_dir, "orders")
    grouped = quantile_profile_grouped(
        orders, "o_orderstatus", "o_totalprice", _A9Q_PROBS
    ).select(
        F.concat(F.lit("o_totalprice|"), F.col("o_orderstatus")).alias("column"),
        "n",
        "nb_distinct",
        "p25",
        "p50",
        "p75",
        "p90",
        "p99",
    )
    return flat.unionByName(grouped)


_SQL_A9Q = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS "column", n, nb_distinct,
  round(q[1], 6) AS p25, round(q[2], 6) AS p50, round(q[3], 6) AS p75,
  round(q[4], 6) AS p90, round(q[5], 6) AS p99
FROM (SELECT count({c}) AS n, count(DISTINCT {c}) AS nb_distinct,
        quantile_cont({c}, [0.25, 0.5, 0.75, 0.9, 0.99]) AS q FROM lineitem)
"""
    for c in _A9Q_COLS
) + """
UNION ALL
SELECT 'o_totalprice|' || o_orderstatus AS "column", n, nb_distinct,
  round(q[1], 6) AS p25, round(q[2], 6) AS p50, round(q[3], 6) AS p75,
  round(q[4], 6) AS p90, round(q[5], 6) AS p99
FROM (SELECT o_orderstatus, count(o_totalprice) AS n,
        count(DISTINCT o_totalprice) AS nb_distinct,
        quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.9, 0.99]) AS q
      FROM orders GROUP BY o_orderstatus)
"""


def q_tx_chunks(spark, sf_dir):
    """Overlapping token-window chunking (size 64, overlap 16) — the
    context-window layout step for training/RAG; map-only, shuffle-free."""
    from udata_datalake_service_spark.llm.packing import chunk_documents

    d = _tw(spark, sf_dir, "documents")
    out = chunk_documents(d, size=64, overlap=16)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_token").cast("long").alias("start_token"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
        "chunk_id",
    )


_SQL_TX_CHUNKS = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
base AS (SELECT doc_id, t, len(t) AS n FROM x WHERE len(t) > 0),
starts AS (
  SELECT doc_id, t, n,
    list_filter(range(1, n + 1, 48), s -> s = 1 OR s - 48 + 64 - 1 < n) AS ss
  FROM base
),
chunks AS (
  SELECT doc_id, u.idx AS chunk_idx, u.s AS start_token, t FROM (
    SELECT doc_id, t,
      unnest(list_transform(range(1, len(ss) + 1),
        j -> struct_pack(idx := j - 1, s := ss[j]))) AS u
    FROM starts)
)
SELECT doc_id, chunk_idx, start_token,
  len(t[start_token:start_token + 63]) AS n_chunk_tokens,
  array_to_string(t[start_token:start_token + 63], ' ') AS chunk_text,
  md5(doc_id || '|' || chunk_idx || '|' ||
      array_to_string(t[start_token:start_token + 63], ' ')) AS chunk_id
FROM chunks
"""


def q_domain_split(spark, sf_dir):
    """Deterministic train/val/test splits over documents — the row-hash
    split plus the leakage-safe GROUP split (hash of `source`, so near-dups
    inside one source can never straddle train/test). Pure md5 functions of
    (seed, key): re-running on a grown corpus never reassigns a row."""
    from udata_datalake_service_spark.llm.mixing import split_assign, split_assign_grouped

    d = _tw(spark, sf_dir, "documents")
    out = split_assign(
        d, {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"], seed="rows0",
        out_col="row_split",
    )
    out = split_assign_grouped(
        out, {"train": 0.8, "test": 0.2}, ["source"], seed="groups0",
        out_col="group_split",
    )
    return out.select("doc_id", "source", "row_split", "group_split")


_SQL_DOMAIN_SPLIT = """
WITH u AS (
  SELECT doc_id, source,
    ('0x' || substr(md5('rows0' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
      / 4294967296.0 AS u_row,
    ('0x' || substr(md5('groups0' || '|' || source), 1, 8))::UBIGINT
      / 4294967296.0 AS u_grp
  FROM documents
)
SELECT doc_id, source,
  CASE WHEN u_row < 0.1 THEN 'test' WHEN u_row < 0.9 THEN 'train'
       ELSE 'val' END AS row_split,
  CASE WHEN u_grp < 0.2 THEN 'test' ELSE 'train' END AS group_split
FROM u
"""


def q_tx_vocab_coverage(spark, sf_dir):
    """Tokenizer-budget curve: fraction of all token occurrences covered by
    the top-{100,1000,10000} vocabulary (rank = occurrences desc, term asc
    — deterministic, engine-exact)."""
    from udata_datalake_service_spark.llm.tfidf import vocab_coverage

    d = _tw(spark, sf_dir, "documents")
    out = vocab_coverage(d, (100, 1000, 10000))
    return out.select(
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("covered_occurrences").cast("long").alias("covered_occurrences"),
        F.col("total_occurrences").cast("long").alias("total_occurrences"),
        "coverage",
    )


_SQL_TX_VOCAB_COVERAGE = f"""
WITH tf AS (
  SELECT term, count(*) AS occ
  FROM (SELECT unnest({_SQL_TOKS}) AS term FROM documents)
  GROUP BY term
),
ranked AS (
  -- CASTs: DuckDB SUM() → HUGEINT → float64 under pandas conversion,
  -- which broke the driver's value hash in r4 despite identical values.
  SELECT occ,
    row_number() OVER (ORDER BY occ DESC, term ASC) AS rank,
    CAST(sum(occ) OVER (ORDER BY occ DESC, term ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
    CAST(sum(occ) OVER () AS BIGINT) AS total
  FROM tf
)
SELECT k.vocab_size,
  count(*) FILTER (WHERE rank <= k.vocab_size) AS n_terms,
  coalesce(max(cum) FILTER (WHERE rank <= k.vocab_size), 0) AS covered_occurrences,
  max(total) AS total_occurrences,
  round(coalesce(max(cum) FILTER (WHERE rank <= k.vocab_size), 0)
        / CAST(max(total) AS DOUBLE), 6) AS coverage
FROM ranked CROSS JOIN (VALUES (100), (1000), (10000)) AS k(vocab_size)
GROUP BY k.vocab_size
"""


def q_mix_shards(spark, sf_dir):
    """Sharded training-data export: write documents as 8 deterministic
    md5-bucket shards under the crash-safe manifest pointer, read back the
    audit manifest (per-shard rows + order-independent content checksum).
    The oracle recomputes the manifest straight from the table — equality
    proves the sharded write is lossless AND the bucketing is engine-exact."""
    import hashlib
    import shutil

    from udata_datalake_service_spark.sinks.lake import Lake

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    root = f"/tmp/spark_hydra_shards_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    shutil.rmtree(root, ignore_errors=True)
    lake = Lake(spark, root)
    manifest = lake.write_training_shards(d, "corpus", 8, ["doc_id"], seed="shards0")
    return manifest.select("shard", "n_rows", "content_checksum")


_SQL_MIX_SHARDS = """
WITH h AS (
  SELECT ('0x' || substr(md5('shards0' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT::BIGINT AS hv
  FROM documents
)
SELECT hv % 8 AS shard, count(*) AS n_rows, CAST(sum(hv) AS BIGINT) AS content_checksum
FROM h GROUP BY hv % 8 ORDER BY shard
"""


def q_url_canonical(spark, sf_dir):
    """URL canonicalization + URL-level dedup — the crawl-plane twin of
    content fingerprinting: derive deterministic noisy variants (case,
    default ports, tracking params, fragments) per order row, canonicalize,
    and count rows per canonical form (same-resource groups)."""
    from udata_datalake_service_spark.functions.urls import canonicalize_url

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey").cast("string")
    m = F.pmod(F.col("o_orderkey"), F.lit(4))
    url = (
        F.when(m == 0, F.concat(F.lit("HTTP://Files.Example.ORG:80/r/"), k,
                                F.lit("?utm_source=a&utm_medium=b&id=1#frag")))
        .when(m == 1, F.concat(F.lit("https://files.example.org:443/r/"), k, F.lit("?id=1")))
        .when(m == 2, F.concat(F.lit("https://files.example.org/r/"), k,
                               F.lit("?id=1&gclid=xyz&fbclid=t")))
        .otherwise(F.concat(F.lit("https://files.example.org/r/"), k, F.lit("/?ref=home")))
    )
    out = o.select("o_orderkey", url.alias("url")).withColumn(
        "canon", canonicalize_url(F.col("url"))
    )
    w = Window.partitionBy("canon")
    return out.withColumn("n_same_resource", F.count(F.lit(1)).over(w))


_SQL_TRK_RUN = "(?:utm_[a-z]+|gclid|fbclid|msclkid|ref|mc_eid)=[^&#]*"
_SQL_DOMAIN_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def _sql_canonicalize(u: str) -> str:
    """DuckDB replay of functions/urls.canonicalize_url (RE2 'g' flag where
    Spark's replace-all semantics matter; \\1 backrefs per RE2 rewrite)."""
    s = (
        f"lower(regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) || '://' || "
        f"lower(regexp_extract({u}, '{_SQL_DOMAIN_RE}', 1)) || "
        f"regexp_replace({u}, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]*', '')"
    )
    s = f"regexp_replace({s}, '#.*$', '')"
    s = f"regexp_replace({s}, '^(http://[^/:?#]+):80([/?])', '\\1\\2')"
    s = f"regexp_replace({s}, '^(http://[^/:?#]+):80$', '\\1')"
    s = f"regexp_replace({s}, '^(https://[^/:?#]+):443([/?])', '\\1\\2')"
    s = f"regexp_replace({s}, '^(https://[^/:?#]+):443$', '\\1')"
    s = f"regexp_replace({s}, '([?&]){_SQL_TRK_RUN}(&{_SQL_TRK_RUN})*&', '\\1', 'g')"
    s = f"regexp_replace({s}, '[?&]{_SQL_TRK_RUN}(&{_SQL_TRK_RUN})*$', '')"
    s = f"regexp_replace({s}, '\\?$', '')"
    s = f"regexp_replace({s}, '^([a-z][a-z0-9+.-]*://[^/?#]+)/$', '\\1')"
    return (
        f"CASE WHEN regexp_matches({u}, '^[a-zA-Z][a-zA-Z0-9+.-]*://') "
        f"THEN {s} ELSE {u} END"
    )


_SQL_URL_CANON = f"""
WITH u AS (
  SELECT o_orderkey,
    CASE o_orderkey % 4
      WHEN 0 THEN 'HTTP://Files.Example.ORG:80/r/' || o_orderkey || '?utm_source=a&utm_medium=b&id=1#frag'
      WHEN 1 THEN 'https://files.example.org:443/r/' || o_orderkey || '?id=1'
      WHEN 2 THEN 'https://files.example.org/r/' || o_orderkey || '?id=1&gclid=xyz&fbclid=t'
      ELSE 'https://files.example.org/r/' || o_orderkey || '/?ref=home'
    END AS url
  FROM orders
),
c AS (SELECT o_orderkey, url, {_sql_canonicalize('url')} AS canon FROM u)
SELECT o_orderkey, url, canon,
       count(*) OVER (PARTITION BY canon) AS n_same_resource
FROM c
"""


def q_funnel(spark, sf_dir):
    """Window funnel over events: view → click → purchase within 24 h of
    the chain's FIRST step (anchored window — a later anchor can complete
    where the earliest fails). Per-user deepest level + a level histogram
    would be downstream; the per-user grain is the attested output."""
    from udata_datalake_service_spark.operators.funnel import funnel_levels

    ev = _t(spark, sf_dir, "events")
    return funnel_levels(ev, ["view", "click", "purchase"], horizon_s=86400)


_SQL_FUNNEL = """
WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS t, event_type AS et FROM events),
f1 AS (SELECT DISTINCT k, t AS t1, t AS ti FROM ev WHERE et = 'view'),
f2 AS (
  SELECT f1.k, f1.t1, min(e.t) AS ti
  FROM f1 JOIN ev e ON e.k = f1.k AND e.et = 'click'
    AND e.t > f1.ti AND e.t <= f1.t1 + 86400000000
  GROUP BY f1.k, f1.t1
),
f3 AS (
  SELECT f2.k, f2.t1, min(e.t) AS ti
  FROM f2 JOIN ev e ON e.k = f2.k AND e.et = 'purchase'
    AND e.t > f2.ti AND e.t <= f2.t1 + 86400000000
  GROUP BY f2.k, f2.t1
)
SELECT u.k AS user_id,
  CASE WHEN u.k IN (SELECT k FROM f3) THEN 3
       WHEN u.k IN (SELECT k FROM f2) THEN 2
       WHEN u.k IN (SELECT k FROM f1) THEN 1
       ELSE 0 END AS level
FROM (SELECT DISTINCT k FROM ev) u
"""


def q_cohort(spark, sf_dir):
    """Cohort retention matrix over events — 7-day epoch-fixed buckets,
    cohort = first-event bucket, one row per (cohort, offset)."""
    from udata_datalake_service_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, bucket_days=7)


_SQL_COHORT = """
WITH ev AS (
  SELECT DISTINCT user_id AS k, epoch_us(ts) // 604800000000 AS b FROM events
),
coh AS (SELECT k, min(b) AS cb FROM ev GROUP BY k),
per AS (
  SELECT cb AS cohort_bucket, b - cb AS bucket_offset, count(*) AS n_active
  FROM ev JOIN coh USING (k) GROUP BY 1, 2
),
sz AS (SELECT cb AS cohort_bucket, count(*) AS n_cohort FROM coh GROUP BY 1)
SELECT cohort_bucket, bucket_offset, n_active, n_cohort,
       round(n_active / CAST(n_cohort AS DOUBLE), 6) AS retention
FROM per JOIN sz USING (cohort_bucket)
"""


def q_pivot_activity(spark, sf_dir):
    """Pivot surface — per-user event counts and value sums spread across
    event-type columns (`groupBy().pivot(values).agg(...)`). Pinning the
    explicit values list keeps the plan one-pass (no distinct-scan to
    discover columns) and the output schema deterministic for the oracle."""
    ev = _t(spark, sf_dir, "events")
    types = ["view", "click", "signup", "purchase", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("v"),
        )
    )
    cols = [F.col("user_id")]
    for t in types:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"{t}_n"))
        cols.append(F.col(f"{t}_v").alias(f"{t}_v"))
    return out.select(*cols)


_SQL_PIVOT = """
SELECT user_id,
  count(*) FILTER (WHERE event_type = 'view') AS view_n,
  round(sum(value) FILTER (WHERE event_type = 'view'), 4) AS view_v,
  count(*) FILTER (WHERE event_type = 'click') AS click_n,
  round(sum(value) FILTER (WHERE event_type = 'click'), 4) AS click_v,
  count(*) FILTER (WHERE event_type = 'signup') AS signup_n,
  round(sum(value) FILTER (WHERE event_type = 'signup'), 4) AS signup_v,
  count(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
  round(sum(value) FILTER (WHERE event_type = 'purchase'), 4) AS purchase_v,
  count(*) FILTER (WHERE event_type = 'error') AS error_n,
  round(sum(value) FILTER (WHERE event_type = 'error'), 4) AS error_v
FROM events GROUP BY user_id
"""


def q_ann_centroid_assign(spark, sf_dir):
    """Per-label fixed-point centroids + nearest-centroid cosine assignment
    (one k-means E-step / embedding-space label-quality probe): every
    vector reports its true label, assigned centroid, and cosine."""
    from udata_datalake_service_spark.llm.similarity import (
        assign_nearest_centroid,
        label_centroids,
    )

    e = _tw(spark, sf_dir, "embeddings")
    cents = label_centroids(e)
    out = assign_nearest_centroid(e, cents)
    truth = e.select("vec_id", F.col("label").alias("true_label"))
    return out.join(truth, on="vec_id").select(
        "vec_id", F.col("true_label").cast("long").alias("true_label"),
        F.col("assigned_label").cast("long").alias("assigned_label"), "cos",
    )


_SQL_ANN_CENTROID = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (
  SELECT label, u.pos AS pos, CAST(round(u.x * 1000000, 0) AS BIGINT) AS q
  FROM (SELECT label,
          unnest(list_transform(range(1, len(v) + 1),
            i -> struct_pack(pos := i, x := v[i]))) AS u
        FROM e)
),
g AS (SELECT label, pos, sum(q) AS s, count(*) AS n FROM ex GROUP BY 1, 2),
cent AS (
  SELECT label AS clabel, list(s / (n * 1000000.0) ORDER BY pos) AS c
  FROM g GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label, cent.clabel,
    ROUND(list_dot_product(e.v, cent.c) /
      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))), 6) AS cos
  FROM e CROSS JOIN cent
)
SELECT vec_id, CAST(label AS BIGINT) AS true_label,
       CAST(clabel AS BIGINT) AS assigned_label, cos
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


def q_tx_hashed_features(spark, sf_dir):
    """Feature hashing (hashing trick, 64 buckets, signed): the
    vocabulary-free featurizer, attested at the sparse (doc, bucket,
    value) grain."""
    from udata_datalake_service_spark.llm.tfidf import hashed_features_sparse

    d = _tw(spark, sf_dir, "documents")
    return hashed_features_sparse(d, n_buckets=64)


_SQL_TX_HASHED = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS term FROM x),
b AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(term), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket,
    CASE WHEN ('0x' || substr(md5(term), 9, 1))::UBIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM tok
)
SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS value
FROM b GROUP BY doc_id, bucket
"""


def q_sla_streaks(spark, sf_dir):
    """Availability/SLA report with gaps-and-islands: per user, check
    count, error count, availability ratio, and the LONGEST consecutive
    error run (rn − rn-within-errors island grouping — the classic streak
    idiom the dashboards' plain aggregates can't express)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        _us(F.col("ts")).alias("us"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    with_rn = base.withColumn("rn", F.row_number().over(w))
    errs = with_rn.filter(F.col("is_err")).withColumn(
        "rn2", F.row_number().over(w)
    )
    streaks = (
        errs.groupBy("user_id", (F.col("rn") - F.col("rn2")).alias("grp"))
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").alias("longest_error_streak"))
    )
    totals = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_checks"),
        F.count_if(F.col("is_err")).alias("n_errors"),
    )
    return (
        totals.join(streaks, on="user_id", how="left")
        .select(
            "user_id",
            "n_checks",
            "n_errors",
            F.round(1 - F.col("n_errors") / F.col("n_checks"), 6).alias("availability"),
            F.coalesce("longest_error_streak", F.lit(0)).cast("long").alias(
                "longest_error_streak"
            ),
        )
    )


_SQL_SLA = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, event_type = 'error' AS is_err
  FROM events
),
rn AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
  FROM base
),
errs AS (
  SELECT user_id,
    rn - row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS grp
  FROM rn WHERE is_err
),
streaks AS (
  SELECT user_id, max(len) AS longest_error_streak FROM (
    SELECT user_id, grp, count(*) AS len FROM errs GROUP BY 1, 2
  ) GROUP BY user_id
),
totals AS (
  SELECT user_id, count(*) AS n_checks, count(*) FILTER (WHERE is_err) AS n_errors
  FROM base GROUP BY user_id
)
SELECT t.user_id, t.n_checks, t.n_errors,
  round(1 - t.n_errors / CAST(t.n_checks AS DOUBLE), 6) AS availability,
  coalesce(s.longest_error_streak, 0) AS longest_error_streak
FROM totals t LEFT JOIN streaks s USING (user_id)
"""


def q_variant_props(spark, sf_dir):
    """Semi-structured plane via Spark 4's VARIANT: parse the events
    ``props`` JSON once into a variant column, extract a typed field with
    ``variant_get`` (no per-query re-parse, binary-encoded shredding —
    the at-scale JSON story vs. get_json_object's string re-walks), band
    it, and aggregate per (event_type, band)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.withColumn("v", F.parse_json(F.col("props")))
    k = F.expr("variant_get(v, '$.k', 'long')")
    return (
        v.withColumn("k", k)
        .withColumn("k_band", F.expr("k DIV 25"))
        .groupBy("event_type", "k_band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_SQL_VARIANT = """
WITH x AS (
  SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events
)
SELECT event_type, k // 25 AS k_band, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
FROM x GROUP BY event_type, k // 25
"""


def q_tx_clean(spark, sf_dir):
    """C4/CCNet-style text normalization, attested through deterministic
    noise: decorate each document with curly quotes, an em-dash, ellipsis,
    NBSP, a zero-width space, and a control char, then clean — the output
    md5/length only match the oracle if every fold/strip/collapse rule
    fires identically in both engines."""
    from udata_datalake_service_spark.llm.text import clean_text

    d = _tw(spark, sf_dir, "documents")
    noisy = F.concat(
        F.lit("​“Note” — "),
        F.col("text"),
        F.lit(" … \x07end  "),
    )
    c = clean_text(noisy)
    return d.select(
        "doc_id",
        F.md5(c).alias("clean_md5"),
        F.length(c).cast("long").alias("clean_len"),
    )


def _sql_tx_clean() -> str:
    from udata_datalake_service_spark.llm.text import _FOLD_FROM, _FOLD_TO, _STRIP_RE

    fold_to = _FOLD_TO.replace("'", "''")
    return f"""
WITH noisy AS (
  SELECT doc_id,
    '​“Note” — ' || text || ' … ' || chr(7) || 'end  ' AS t
  FROM documents
), c AS (
  SELECT doc_id, trim(
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      replace(translate(t, '{_FOLD_FROM}', '{fold_to}'), '…', '...'),
      '{_STRIP_RE}', '', 'g'),
      '[ \t]+', ' ', 'g'),
      '\n{{3,}}', '\n\n', 'g'),
      ' ?\n ?', '\n', 'g')) AS ct
  FROM noisy
)
SELECT doc_id, md5(ct) AS clean_md5, length(ct) AS clean_len FROM c
"""


_SQL_TX_CLEAN = _sql_tx_clean()


def q_tx_surprisal(spark, sf_dir):
    """Perplexity-proxy curation score: per-doc mean negative log-likelihood
    under the corpus's own unigram LM (fixed-point token-nll sums for an
    engine-exact mean)."""
    from udata_datalake_service_spark.llm.tfidf import unigram_surprisal

    d = _tw(spark, sf_dir, "documents")
    return settle(unigram_surprisal(d))


_SQL_TX_SURPRISAL = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
tok AS (SELECT doc_id AS id, unnest(t) AS tm FROM x),
freqs AS (SELECT tm, count(*) AS occ FROM tok GROUP BY tm),
tot AS (SELECT count(*) AS total FROM tok),
scored AS (
  SELECT id, count(*) AS n_tokens,
    CAST(sum(CAST(round(-ln(occ / CAST(total AS DOUBLE)) * 1000000, 0) AS BIGINT)) AS BIGINT) AS s
  FROM tok JOIN freqs USING (tm) CROSS JOIN tot GROUP BY id
)
SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
  coalesce(round(sc.s / (sc.n_tokens * 1000000.0), 6), 0.0) AS mean_nll
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN scored sc ON d.doc_id = sc.id
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher quality-rule bundle (Rae et al. 2021 Table A1), attested
    through deterministic noise: each document is doubled (duplicate line
    + every n-gram duplicated) and decorated with bullet / dash /
    ellipsis lines, so the repetition family, line-shape rules, and the
    threshold logic only hash-match if every formula fires identically in
    both engines."""
    from udata_datalake_service_spark.llm.gopher import gopher_quality

    d = _tw(spark, sf_dir, "documents")
    noisy = F.concat_ws(
        "\n",
        F.col("text"),
        F.col("text"),
        F.lit("• alpha beta"),
        F.lit("- gamma delta"),
        F.lit("ends like this..."),
        F.lit("ends like it …"),
    )
    return gopher_quality(d.select("doc_id", noisy.alias("text")))


def _sql_gopher_quality(source: str | None = None) -> str:
    from udata_datalake_service_spark.llm.gopher import (
        DUP_MAX,
        DUP_NS,
        GOPHER_STOPWORDS,
        TOP_MAX,
        TOP_NS,
    )

    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    gram_selects = []
    for n in TOP_NS + DUP_NS:
        gram_selects.append(
            f"SELECT doc_id, {n} AS n, unnest(list_transform("
            f"range(1, greatest(len(wl) - {n} + 2, 1)), "
            f"i -> array_to_string(list_slice(wl, i, i + {n} - 1), ' '))) AS g "
            "FROM wlc"
        )
    grams_union = "\nUNION ALL\n".join(gram_selects)
    wide_cols = ", ".join(
        [f"MAX(CASE WHEN n = {n} THEN top_chars END) AS t{n}" for n in TOP_NS]
        + [f"MAX(CASE WHEN n = {n} THEN dup_chars END) AS d{n}" for n in DUP_NS]
    )
    top_frac_cols = ", ".join(
        "CASE WHEN word_chars > 0 THEN round(coalesce(t{n}, 0)::DOUBLE / word_chars, 6) ELSE 0.0 END AS top{n}gram_char_frac".format(n=n)
        for n in TOP_NS
    )
    dup_frac_cols = ", ".join(
        "CASE WHEN word_chars > 0 THEN round(coalesce(d{n}, 0)::DOUBLE / word_chars, 6) ELSE 0.0 END AS dup{n}gram_char_frac".format(n=n)
        for n in DUP_NS
    )
    fail_terms = [
        "(n_words < 50 OR n_words > 100000)",
        "(mean_word_len < 3.0 OR mean_word_len > 10.0)",
        "(symbol_word_ratio > 0.10)",
        "(bullet_line_frac > 0.90)",
        "(ellipsis_line_frac > 0.30)",
        "(frac_alpha_words < 0.80)",
        "(n_stop_hits < 2)",
        "(dup_line_frac > 0.30)",
        "(dup_line_char_frac > 0.20)",
    ]
    for n in TOP_NS:
        fail_terms.append(f"(top{n}gram_char_frac > {TOP_MAX[n]})")
    for n in DUP_NS:
        fail_terms.append(f"(dup{n}gram_char_frac > {DUP_MAX[n]})")
    n_fail = " + ".join(f"CASE WHEN {t} THEN 1 ELSE 0 END" for t in fail_terms)
    source = source or """SELECT doc_id,
    text || chr(10) || text || chr(10) || '• alpha beta' || chr(10) ||
    '- gamma delta' || chr(10) || 'ends like this...' || chr(10) ||
    'ends like it …' AS t
  FROM documents"""
    return f"""
WITH noisy AS (
  {source}
), split0 AS (
  SELECT doc_id, t,
    list_filter(string_split_regex(coalesce(t, ''), '[ \\t\\n\\r\\f\\v]+'), w -> w <> '') AS w,
    list_filter(string_split_regex(coalesce(t, ''), '\\r?\\n'), l -> trim(l) <> '') AS lines
  FROM noisy
), b AS (
  SELECT doc_id, w, lines,
    len(w) AS n_words,
    len(lines) AS n_lines,
    coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS word_chars,
    coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS line_chars,
    coalesce(list_sum(list_transform(list_distinct(lines),
      d -> (len(list_filter(lines, l -> l = d)) - 1) * length(d))), 0) AS dup_line_chars,
    len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
      [{stop_list}])) AS n_stop_hits,
    len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    len(list_filter(lines, l -> regexp_matches(l, '^[ \\t\\n\\r\\f\\x0B]*[•‣▪\\-\\*]'))) AS n_bullet,
    len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t\\n\\r\\f\\x0B]*$'))) AS n_ellip,
    len(lines) - len(list_distinct(lines)) AS n_dup_lines,
    len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\\.\\.\\.'))
      + len(regexp_extract_all(t, '…')) AS n_symbols
  FROM split0
), sig AS (
  SELECT doc_id,
    n_words::BIGINT AS n_words,
    CASE WHEN n_words > 0 THEN round(word_chars::DOUBLE / n_words, 6) ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_words > 0 THEN round(n_symbols::DOUBLE / n_words, 6) ELSE 0.0 END AS symbol_word_ratio,
    CASE WHEN n_words > 0 THEN round(n_alpha::DOUBLE / n_words, 6) ELSE 0.0 END AS frac_alpha_words,
    n_stop_hits::BIGINT AS n_stop_hits,
    CASE WHEN n_lines > 0 THEN round(n_bullet::DOUBLE / n_lines, 6) ELSE 0.0 END AS bullet_line_frac,
    CASE WHEN n_lines > 0 THEN round(n_ellip::DOUBLE / n_lines, 6) ELSE 0.0 END AS ellipsis_line_frac,
    CASE WHEN n_lines > 0 THEN round(n_dup_lines::DOUBLE / n_lines, 6) ELSE 0.0 END AS dup_line_frac,
    CASE WHEN line_chars > 0 THEN round(dup_line_chars::DOUBLE / line_chars, 6) ELSE 0.0 END AS dup_line_char_frac,
    word_chars
  FROM b
), wlc AS (
  SELECT doc_id, list_transform(w, x -> lower(x)) AS wl FROM split0
), grams AS (
{grams_union}
), cnt AS (
  SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY doc_id, n, g
), cnt2 AS (
  SELECT *, MAX(c) OVER (PARTITION BY doc_id, n) AS mc FROM cnt
), pern AS (
  SELECT doc_id, n,
    MAX(CASE WHEN c = mc THEN c * (length(g) - (n - 1)) END) AS top_chars,
    SUM(CASE WHEN c > 1 THEN c * (length(g) - (n - 1)) ELSE 0 END) AS dup_chars
  FROM cnt2 GROUP BY doc_id, n
), wide AS (
  SELECT doc_id, {wide_cols} FROM pern GROUP BY doc_id
), frac AS (
  SELECT sig.*, {top_frac_cols}, {dup_frac_cols}
  FROM sig LEFT JOIN wide USING (doc_id)
)
SELECT * EXCLUDE (word_chars),
  ({n_fail})::BIGINT AS n_fail,
  ({n_fail}) = 0 AS gopher_pass
FROM frac
"""


_SQL_GOPHER_QUALITY = _sql_gopher_quality()


def q_mm_embed_vq(spark, sf_dir):
    """The multimodal retrieval pipeline end-to-end: binary media content
    → deterministic hash-featurizer embeddings (`embed_media`, the CLIP
    kernel slot) → per-source fixed-point centroids → nearest-centroid
    assignment. Attests the full binary→embedding→VQ plumbing."""
    from udata_datalake_service_spark.llm.multimodal import (
        embed_media,
        fake_media_from_documents,
    )
    from udata_datalake_service_spark.llm.similarity import (
        assign_nearest_centroid,
        label_centroids,
    )

    d = _tw(spark, sf_dir, "documents")
    media = fake_media_from_documents(d)
    emb = embed_media(media, dim=8)
    labeled = emb.join(
        d.select(F.col("doc_id").alias("media_id"), F.col("source")), on="media_id"
    ).select(
        F.col("media_id").alias("vec_id"),
        F.col("embedding"),
        F.col("source").alias("label"),
    )
    cents = label_centroids(labeled, dim=8)
    out = assign_nearest_centroid(labeled, cents)
    truth = labeled.select("vec_id", F.col("label").alias("true_source"))
    return out.join(truth, on="vec_id").select(
        F.col("vec_id").alias("media_id"),
        "true_source",
        F.col("assigned_label").alias("assigned_source"),
        "cos",
    )


_SQL_MM_EMBED_VQ = """
WITH e AS (
  SELECT doc_id AS vec_id, source AS label,
    list_transform(range(0, 8),
      k -> ('0x' || substr(md5(text), k * 4 + 1, 4))::UBIGINT / 65535.0 - 0.5) AS v
  FROM documents
),
ex AS (
  SELECT label, u.pos AS pos, CAST(round(u.x * 1000000, 0) AS BIGINT) AS q
  FROM (SELECT label,
          unnest(list_transform(range(1, len(v) + 1),
            i -> struct_pack(pos := i, x := v[i]))) AS u
        FROM e)
),
g AS (SELECT label, pos, sum(q) AS s, count(*) AS n FROM ex GROUP BY 1, 2),
cent AS (
  SELECT label AS clabel, list(s / (n * 1000000.0) ORDER BY pos) AS c
  FROM g GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label, cent.clabel,
    ROUND(list_dot_product(e.v, cent.c) /
      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))), 6) AS cos
  FROM e CROSS JOIN cent
)
SELECT vec_id AS media_id, label AS true_source, clabel AS assigned_source, cos
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


def q_standardize_embeddings(spark, sf_dir):
    """Per-dimension fixed-point z-score standardization, attested at the
    (vec_id, pos, z) grain (1-based pos, matching the centroid oracles)."""
    from udata_datalake_service_spark.llm.similarity import standardize_embeddings

    e = _tw(spark, sf_dir, "embeddings")
    out = standardize_embeddings(e)
    return out.select(
        "vec_id", F.posexplode(F.col("z")).alias("pos0", "z")
    ).select("vec_id", (F.col("pos0") + 1).cast("long").alias("pos"), "z")


_SQL_STANDARDIZE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
comp AS (
  SELECT vec_id, u.pos AS pos, CAST(round(u.x * 1000000, 0) AS BIGINT) AS q
  FROM (SELECT vec_id,
          unnest(list_transform(range(1, len(v) + 1),
            i -> struct_pack(pos := i, x := v[i]))) AS u
        FROM e)
),
st AS (
  SELECT pos, SUM(q) AS s1, SUM(q * q) AS s2, COUNT(*) AS n
  FROM comp GROUP BY pos
)
SELECT c.vec_id, CAST(c.pos AS BIGINT) AS pos,
  CASE WHEN sqrt(s2 / n - (s1 / n) * (s1 / n)) > 0
    THEN round((c.q - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6)
    ELSE 0.0 END AS z
FROM comp c JOIN st USING (pos)
"""


def q_fuzzy_linkage(spark, sf_dir):
    """Blocked fuzzy record linkage over the part-name domain: the
    distinct names vs a deterministically typo'd copy (md5-parity picks
    drop-last-char-for-x vs append-q), blocked on the first name token,
    verified with Levenshtein ≤ 2 — the Fellegi-Sunter blocking recipe
    with zero cross join."""
    from udata_datalake_service_spark.operators.linkage import fuzzy_join

    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    blk = F.split(F.col("p_name"), " ").getItem(0).alias("blk")
    perturbed = names.select(
        F.when(
            F.conv(F.substring(F.md5("p_name"), 1, 1), 16, 10).cast("long") % 2 == 0,
            F.concat(
                F.substring(
                    F.col("p_name"), 1, F.length("p_name") - F.lit(1)
                ),
                F.lit("x"),
            ),
        )
        .otherwise(F.concat(F.col("p_name"), F.lit("q")))
        .alias("typo_name")
    )
    a = names.select(F.col("p_name").alias("name_a"), blk)
    b = perturbed.select(
        F.col("typo_name").alias("name_b"),
        F.split(F.col("typo_name"), " ").getItem(0).alias("blk"),
    )
    out = fuzzy_join(a, b, "blk", "name_a", "name_b", max_distance=2)
    return out.select("name_a", "name_b", "dist")


_SQL_FUZZY_LINKAGE = """
WITH names AS (SELECT DISTINCT p_name FROM part),
typo AS (
  SELECT CASE WHEN ('0x' || substr(md5(p_name), 1, 1))::UBIGINT % 2 = 0
    THEN substr(p_name, 1, length(p_name) - 1) || 'x'
    ELSE p_name || 'q' END AS typo_name
  FROM names
),
a AS (SELECT p_name AS name_a, string_split(p_name, ' ')[1] AS blk FROM names),
b AS (SELECT typo_name AS name_b, string_split(typo_name, ' ')[1] AS blk FROM typo)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM a JOIN b USING (blk)
WHERE levenshtein(name_a, name_b) <= 2
"""


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: adjacency counts, row-normalized probabilities, and
    successor ranks (count desc, name asc)."""
    from udata_datalake_service_spark.operators.markov import event_transitions

    e = _t(spark, sf_dir, "events")
    return event_transitions(e)


_SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
mat AS (
  SELECT prev AS prev_event, event_type AS next_event, COUNT(*) AS n
  FROM seq WHERE prev IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_event, next_event, n,
  round(n / SUM(n) OVER (PARTITION BY prev_event), 6) AS p,
  CAST(row_number() OVER (PARTITION BY prev_event ORDER BY n DESC, next_event ASC)
       AS BIGINT) AS rnk
FROM mat
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights with English documents as the target
    distribution: hashed unigram+bigram bucket LMs (add-1 smoothed,
    md5 buckets) and per-doc fixed-point log-ratio sums."""
    from udata_datalake_service_spark.llm.tfidf import dsir_log_weights

    d = _tw(spark, sf_dir, "documents")
    return settle(dsir_log_weights(d, F.col("lang") == "en", n_buckets=256))


_SQL_DSIR = f"""
WITH d AS (SELECT doc_id, (lang = 'en') AS tgt, {_SQL_TOKS} AS t FROM documents),
f AS (
  SELECT doc_id, tgt,
    unnest(t || CASE WHEN len(t) >= 2
      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
      ELSE [] END) AS f
  FROM d
),
b AS (
  SELECT doc_id, tgt,
    CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 256 AS BIGINT) AS bucket
  FROM f
),
bc AS (
  SELECT bucket,
    SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
    SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS cr
  FROM b GROUP BY 1
),
tot AS (
  SELECT SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
         SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS nr
  FROM b
),
lr AS (
  SELECT bucket,
    CAST(round((ln((ct + 1) / (nt + 256.0)) - ln((cr + 1) / (nr + 256.0)))
               * 1000000, 0) AS BIGINT) AS lrq
  FROM bc, tot
),
sc AS (
  SELECT doc_id, COUNT(*) AS n_feats, SUM(lrq) AS s
  FROM b JOIN lr USING (bucket) GROUP BY doc_id
)
SELECT d2.doc_id,
  COALESCE(n_feats, 0)::BIGINT AS n_feats,
  COALESCE(round(s / 1000000.0, 6), 0.0) AS log_weight
FROM (SELECT DISTINCT doc_id FROM documents) d2
LEFT JOIN sc USING (doc_id)
"""


def q_dsir_select(spark, sf_dir):
    """The DSIR selection step end-to-end: importance weights from the
    hashed-bucket LMs → Efraimidis–Spirakis weighted race (deterministic
    md5 uniforms, w = exp(log_weight)) → top-50 winners. Attests the
    full weight→sample composition including the race keys."""
    from udata_datalake_service_spark.llm.tfidf import dsir_log_weights
    from udata_datalake_service_spark.operators.core import weighted_sample

    d = _tw(spark, sf_dir, "documents")
    wts = dsir_log_weights(d, F.col("lang") == "en", n_buckets=256)
    out = weighted_sample(
        wts, 50, F.exp(F.col("log_weight")), ["doc_id"], seed="s0"
    )
    return settle(
        out.select(
            "doc_id", "n_feats", "log_weight", F.col("__wkey").alias("wkey")
        ),
        *adopted(wts),
    )


_SQL_DSIR_SELECT = f"""
WITH dsir AS ({_SQL_DSIR}),
sel AS (
  SELECT doc_id, n_feats, log_weight,
    round(
      ln((('0x' || substr(md5('s0|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT::DOUBLE + 1.0)
         / 4294967297.0)
      / exp(log_weight), 9) AS wkey
  FROM dsir
)
SELECT doc_id, n_feats, log_weight, wkey
FROM sel ORDER BY wkey DESC, doc_id ASC LIMIT 50
"""


def q_corpus_datasheet(spark, sf_dir):
    """The corpus datasheet: volume totals, Gopher pass rate, exact-dup
    rate, token-length quantiles, language mix — every number in the
    shipped audit report oracle-attested."""
    from udata_datalake_service_spark.llm.report import corpus_datasheet

    d = _tw(spark, sf_dir, "documents")
    return corpus_datasheet(d)


def _sql_corpus_datasheet() -> str:
    gq = _sql_gopher_quality("SELECT doc_id, text AS t FROM documents")
    return f"""
WITH gq AS ({gq}),
pd AS (
  SELECT d.doc_id, gq.gopher_pass, d.lang AS lng,
    len({_SQL_TOKS}) AS ntok, length(d.text) AS nchar,
    md5(array_to_string({_SQL_TOKS}, ' ')) AS fp
  FROM documents d JOIN gq ON d.doc_id = gq.doc_id
),
tot AS (
  SELECT COUNT(*) AS n_docs, SUM(ntok) AS n_tokens, SUM(nchar) AS n_chars,
    round(AVG(CASE WHEN gopher_pass THEN 1.0 ELSE 0.0 END), 6) AS pass_rate,
    round((COUNT(*) - COUNT(DISTINCT fp))::DOUBLE / COUNT(*), 6) AS dup_rate,
    quantile_cont(ntok, 0.5) AS p50, quantile_cont(ntok, 0.9) AS p90
  FROM pd
)
SELECT 'volume' AS section, 'n_docs' AS metric, n_docs::DOUBLE AS value FROM tot
UNION ALL SELECT 'volume', 'n_tokens', n_tokens::DOUBLE FROM tot
UNION ALL SELECT 'volume', 'n_chars', n_chars::DOUBLE FROM tot
UNION ALL SELECT 'quality', 'gopher_pass_rate', pass_rate FROM tot
UNION ALL SELECT 'dedup', 'exact_dup_rate', dup_rate FROM tot
UNION ALL SELECT 'length', 'p50_tokens', p50 FROM tot
UNION ALL SELECT 'length', 'p90_tokens', p90 FROM tot
UNION ALL SELECT 'language', 'n_docs:' || lng, COUNT(*)::DOUBLE FROM pd GROUP BY lng
"""


_SQL_CORPUS_DATASHEET = _sql_corpus_datasheet()


def q_weighted_group_sample(spark, sf_dir):
    """Stratified weighted sampling: per-language top-5 winners of the
    deterministic Efraimidis–Spirakis race, weighted by document length —
    the per-stratum quota form of the DSIR selection step."""
    from udata_datalake_service_spark.operators.core import weighted_sample_grouped

    d = _t(spark, sf_dir, "documents")
    out = weighted_sample_grouped(
        d.select("doc_id", "lang", "n_chars"),
        5,
        F.col("n_chars").cast("double"),
        ["lang"],
        ["doc_id"],
        seed="s0",
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.col("__wkey").alias("wkey")
    )


_SQL_WEIGHTED_GROUP_SAMPLE = """
WITH s AS (
  SELECT doc_id, lang, n_chars,
    round(
      ln((('0x' || substr(md5('s0|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT::DOUBLE + 1.0)
         / 4294967297.0)
      / CAST(n_chars AS DOUBLE), 9) AS wkey
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, n_chars, wkey
FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY wkey DESC, doc_id ASC) AS rn
      FROM s)
WHERE rn <= 5
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings table: per-label fixed-point centroids
    → nearest-centroid clusters → within-cluster pairwise cosine; a vector
    is a semantic dup when a same-cluster neighbor within the threshold
    has strictly lower centroid-cosine (keep-the-outlier rule, ties to
    the lower id). τ=0.30 fits the synthetic corpus's cosine range
    (production embeddings run ~0.9); the rule logic is τ-independent."""
    from udata_datalake_service_spark.llm.similarity import semantic_dedup

    e = _tw(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.30)


_SQL_SEMANTIC_DEDUP = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (
  SELECT label, u.pos AS pos, CAST(round(u.x * 1000000, 0) AS BIGINT) AS q
  FROM (SELECT label,
          unnest(list_transform(range(1, len(v) + 1),
            i -> struct_pack(pos := i, x := v[i]))) AS u
        FROM e)
),
g AS (SELECT label, pos, sum(q) AS s, count(*) AS n FROM ex GROUP BY 1, 2),
cent AS (
  SELECT label AS clabel, list(s / (n * 1000000.0) ORDER BY pos) AS c
  FROM g GROUP BY label
),
scored AS (
  SELECT e.vec_id, cent.clabel,
    ROUND(list_dot_product(e.v, cent.c) /
      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))), 6) AS cos
  FROM e CROSS JOIN cent
),
asg AS (
  SELECT vec_id AS id, clabel AS cluster, cos AS ccos
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel ASC) AS rn
        FROM scored)
  WHERE rn = 1
),
mem AS (SELECT a.id, a.cluster, a.ccos, e.v FROM asg a JOIN e ON e.vec_id = a.id),
dropped AS (
  SELECT DISTINCT x.id
  FROM mem x JOIN mem y
    ON x.cluster = y.cluster AND x.id <> y.id
   AND ROUND(list_dot_product(x.v, y.v) /
       (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.30
   AND (y.ccos < x.ccos OR (y.ccos = x.ccos AND y.id < x.id))
)
SELECT m.id AS vec_id, CAST(m.cluster AS BIGINT) AS cluster,
       m.ccos AS centroid_cos, (d.id IS NOT NULL) AS is_dup
FROM mem m LEFT JOIN dropped d ON m.id = d.id
"""


# =========================================================================
# Round-5 operators: corpus diagnostics (llm/corpus.py)
# =========================================================================
def q_tx_novelty(spark, sf_dir):
    """First-occurrence bigram novelty per doc under doc_id stream order
    (llm/corpus.ngram_novelty) — the marginal-data-value curve: a gram is
    owned by the smallest doc containing it, novelty = owned fraction.
    One shuffle on the hashed gram key, one back on doc id."""
    from udata_datalake_service_spark.llm.corpus import ngram_novelty

    d = _tw(spark, sf_dir, "documents")
    return settle(ngram_novelty(d, k=2))


_SQL_TX_NOVELTY = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
g AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(range(1, len(t)),
      i -> t[i] || ' ' || t[i + 1]))) AS g
  FROM x WHERE len(t) >= 2
),
counts AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
owners AS (SELECT g AS gg, min(doc_id) AS owner FROM g GROUP BY g),
novel AS (
  SELECT doc_id, count(*) AS n_novel FROM g JOIN owners ON g.g = owners.gg
  WHERE doc_id = owner GROUP BY doc_id
)
SELECT d.doc_id, coalesce(c.n_grams, 0) AS n_grams,
  coalesce(n.n_novel, 0) AS n_novel,
  CASE WHEN coalesce(c.n_grams, 0) > 0
       THEN round(coalesce(n.n_novel, 0) / CAST(c.n_grams AS DOUBLE), 6)
       ELSE 0.0 END AS novelty
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN counts c USING (doc_id) LEFT JOIN novel n USING (doc_id)
"""


def q_dd_paragraph_dedup(spark, sf_dir):
    """C4-style global paragraph dedup WITH text reconstruction
    (llm/corpus.paragraph_dedup): the corpus is documents plus a shifted
    copy of every 5th doc (ids +10000), so exact duplicate paragraphs
    exist and the copies must reconstruct to empty. Paragraph unit: fixed
    10-token runs (the fixture corpus has no structural newlines; the
    operator's split_regex leg serves real prose)."""
    from udata_datalake_service_spark.llm.corpus import paragraph_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    return paragraph_dedup(d.unionByName(dup), para_tokens=10)


_SQL_DD_PARAGRAPH = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0
),
x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM base),
p0 AS (SELECT doc_id, t, unnest(range(0, (len(t) + 9) // 10)) AS i FROM x),
p AS (
  SELECT doc_id, i AS pidx,
    array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ') AS ptext
  FROM p0
),
k AS (
  SELECT *, row_number() OVER (PARTITION BY ptext ORDER BY doc_id, pidx) AS rn
  FROM p
),
tot AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id),
keptagg AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(ptext, ' ' ORDER BY pidx) AS clean_text
  FROM k WHERE rn = 1 GROUP BY doc_id
)
SELECT b.doc_id, coalesce(t2.n_paras, 0) AS n_paras,
  coalesce(ka.n_kept, 0) AS n_kept, coalesce(ka.clean_text, '') AS clean_text
FROM (SELECT DISTINCT doc_id FROM base) b
LEFT JOIN tot t2 USING (doc_id) LEFT JOIN keptagg ka USING (doc_id)
"""


def q_pack_waste(spark, sf_dir):
    """Padding-waste report (llm/corpus.padding_waste_report): the
    compute fraction burned on pad tokens at batch=32, arrival order vs
    length-sorted — the measured case for length bucketing (~40% vs ~2%
    on this corpus)."""
    from udata_datalake_service_spark.llm.corpus import padding_waste_report

    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    return padding_waste_report(d, "n_tokens", batch_size=32)


_SQL_PACK_WASTE = f"""
WITH d AS (SELECT doc_id AS id, len({_SQL_TOKS}) AS ln FROM documents),
a AS (SELECT id, ln, (row_number() OVER (ORDER BY id) - 1) // 32 AS batch FROM d),
s AS (SELECT id, ln, (row_number() OVER (ORDER BY ln, id) - 1) // 32 AS batch FROM d),
pa AS (SELECT batch, CAST(sum(ln) AS BIGINT) AS r,
       CAST(max(ln) * count(*) AS BIGINT) AS p FROM a GROUP BY batch),
ps AS (SELECT batch, CAST(sum(ln) AS BIGINT) AS r,
       CAST(max(ln) * count(*) AS BIGINT) AS p FROM s GROUP BY batch)
SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
  CAST(sum(r) AS BIGINT) AS real_tokens, CAST(sum(p) AS BIGINT) AS padded_tokens,
  round((sum(p) - sum(r)) / CAST(sum(p) AS DOUBLE), 6) AS waste_ratio
FROM pa
UNION ALL
SELECT 'length_sorted', CAST(count(*) AS BIGINT), CAST(sum(r) AS BIGINT),
  CAST(sum(p) AS BIGINT), round((sum(p) - sum(r)) / CAST(sum(p) AS DOUBLE), 6)
FROM ps
"""


def q_url_quality(spark, sf_dir):
    """RefinedWeb-style URL-level quality gate (functions/urls
    .url_quality_filter): deterministic noisy URL variants per order row —
    clean, deep-digit-path, raw-IP host, binary-payload extension, blocked
    domain, param-stuffed — scored on pure-regexp signals with the final
    keep verdict. The pre-fetch filter of a pretraining crawl; map-only."""
    from udata_datalake_service_spark.functions.urls import url_quality_filter

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey").cast("string")
    m = F.pmod(F.col("o_orderkey"), F.lit(6))
    url = (
        F.when(m == 0, F.concat(F.lit("https://site"), k, F.lit(".example.org/docs/page")))
        .when(m == 1, F.concat(F.lit("https://cdn.example.org/a/1/2/3/4/5/6/"), k, F.lit("9876543210")))
        .when(m == 2, F.concat(F.lit("http://192.168.4.2:8080/r/"), k))
        .when(m == 3, F.concat(F.lit("https://dl.example.org/pkg/"), k, F.lit(".zip?mirror=1")))
        .when(m == 4, F.concat(F.lit("https://spam.example.net/offer/"), k))
        .otherwise(
            F.concat(F.lit("https://t.example.org/p?a=1&b=2&c=3&d=4&e=5&n="), k)
        )
    )
    out = url_quality_filter(
        o.select("o_orderkey", url.alias("url")),
        blocked_domains=("spam.example.net",),
        max_len=80,
        max_digit_ratio=0.3,
    )
    return out.select(
        "o_orderkey", "url", "host", "url_len", "path_depth", "digit_ratio",
        "n_params", "has_port", "is_ip_host", "bad_ext", "url_blocked", "url_keep",
    )


_SQL_URL_QUALITY = """
WITH u AS (
  SELECT o_orderkey,
    CASE o_orderkey % 6
      WHEN 0 THEN 'https://site' || o_orderkey || '.example.org/docs/page'
      WHEN 1 THEN 'https://cdn.example.org/a/1/2/3/4/5/6/' || o_orderkey || '9876543210'
      WHEN 2 THEN 'http://192.168.4.2:8080/r/' || o_orderkey
      WHEN 3 THEN 'https://dl.example.org/pkg/' || o_orderkey || '.zip?mirror=1'
      WHEN 4 THEN 'https://spam.example.net/offer/' || o_orderkey
      ELSE 'https://t.example.org/p?a=1&b=2&c=3&d=4&e=5&n=' || o_orderkey
    END AS url
  FROM orders
),
sig AS (
  SELECT o_orderkey, url,
    nullif(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1), '') AS host,
    CAST(length(url) AS INTEGER) AS url_len,
    CAST(length(p) - length(replace(p, '/', '')) AS INTEGER) AS path_depth,
    round((length(url) - length(regexp_replace(url, '[0-9]', '', 'g')))
          / CAST(greatest(length(url), 1) AS DOUBLE), 6) AS digit_ratio,
    CAST(CASE WHEN q = '' THEN 0
         ELSE length(q) - length(replace(q, '&', '')) + 1 END AS INTEGER) AS n_params,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]*:(\\d+)', 1) <> '' AS has_port,
    coalesce(regexp_matches(
      nullif(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1), ''),
      '^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$'), FALSE) AS is_ip_host,
    regexp_matches(url, '(?i)\\.(exe|zip|rar|7z|dmg|apk|iso|msi|bin|tar|gz)([?#].*)?$') AS bad_ext
  FROM (
    SELECT *,
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p,
      regexp_extract(url, '\\?([^#]*)', 1) AS q
    FROM u)
)
SELECT *,
  (host = 'spam.example.net') AS url_blocked,
  (NOT (host = 'spam.example.net') AND NOT is_ip_host AND NOT bad_ext
   AND url_len <= 80 AND digit_ratio < 0.3 AND host IS NOT NULL) AS url_keep
FROM sig
"""


def q_corpus_ingest(spark, sf_dir):
    """Incremental corpus ingestion end-to-end (llm/ingest.py): batch b1
    (docs with id%3≠0) into a fresh lake, then overlapping batch b2 (all
    docs — only new content lands), then a RETRY of b2 (ledger no-ops it,
    committed=false). One report row per ingest; the oracle recomputes
    every count from fingerprint arithmetic over the documents table."""
    import hashlib
    import shutil

    from udata_datalake_service_spark.llm.ingest import ingest_documents
    from udata_datalake_service_spark.sinks.lake import Lake

    root = f"/tmp/spark_hydra_ingest_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    shutil.rmtree(root, ignore_errors=True)
    lake = Lake(spark, root)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    reports = [
        ingest_documents(lake, d.filter(F.col("doc_id") % 3 != 0), "b1"),
        ingest_documents(lake, d, "b2"),
        ingest_documents(lake, d, "b2"),  # the lost-ack retry
    ]
    cols = (
        "batch_id", "n_in", "n_batch_unique", "n_new_content",
        "n_after_gate", "committed", "n_corpus_total",
    )
    return spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in reports],
        "batch_id string, n_in long, n_batch_unique long, n_new_content long,"
        " n_after_gate long, committed boolean, n_corpus_total long",
    )


_SQL_CORPUS_INGEST = f"""
WITH f AS (
  SELECT doc_id, md5(array_to_string({_SQL_TOKS}, ' ')) AS fp FROM documents
),
b1 AS (SELECT * FROM f WHERE doc_id % 3 <> 0),
u1 AS (SELECT count(DISTINCT fp) AS n FROM b1),
uall AS (SELECT count(DISTINCT fp) AS n FROM f),
c1 AS (SELECT count(*) AS n FROM b1),
call AS (SELECT count(*) AS n FROM f)
SELECT 'b1' AS batch_id, c1.n AS n_in, u1.n AS n_batch_unique,
  u1.n AS n_new_content, u1.n AS n_after_gate, TRUE AS committed,
  u1.n AS n_corpus_total
FROM c1, u1
UNION ALL
SELECT 'b2', call.n, uall.n, uall.n - u1.n, uall.n - u1.n, TRUE, uall.n
FROM call, uall, u1
UNION ALL
SELECT 'b2', call.n, uall.n, 0, 0, FALSE, uall.n FROM call, uall
"""


def q_tx_bigram_surprisal(spark, sf_dir):
    """Interpolated bigram-LM surprisal (llm/tfidf.bigram_surprisal) —
    the stronger perplexity proxy next to tx_surprisal's unigram LM:
    p(w|prev) = 0.75·c(prev w)/c(prev) + 0.25·c(w)/N, first token scored
    unigram-only, fixed-point nll sums for engine-exact means."""
    from udata_datalake_service_spark.llm.tfidf import bigram_surprisal

    d = _tw(spark, sf_dir, "documents")
    return settle(bigram_surprisal(d))


_SQL_TX_BIGRAM_SURPRISAL = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
b AS (
  SELECT doc_id, len(t) AS n_tokens, t[1] AS t1,
    CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
         ELSE [] END AS bg
  FROM x
),
pdb AS (
  SELECT doc_id, bg1 AS bg, count(*) AS n
  FROM (SELECT doc_id, unnest(bg) AS bg1 FROM b) GROUP BY 1, 2
),
bgc AS (SELECT bg, CAST(sum(n) AS BIGINT) AS cbg FROM pdb GROUP BY bg),
tokex AS (SELECT doc_id, unnest(t) AS tk FROM x),
uni AS (SELECT tk, count(*) AS cu FROM tokex GROUP BY tk),
tot AS (SELECT CAST(sum(cu) AS BIGINT) AS total FROM uni),
prevc AS (
  SELECT split_part(bg, ' ', 1) AS pk, CAST(sum(cbg) AS BIGINT) AS cprev
  FROM bgc GROUP BY 1
),
lm AS (
  SELECT bg, CAST(round(-ln(
      0.75 * (cbg / CAST(cprev AS DOUBLE))
      + 0.25 * (cu / CAST(total AS DOUBLE))
    ) * 1000000, 0) AS BIGINT) AS nllq
  FROM bgc
  JOIN prevc ON split_part(bgc.bg, ' ', 1) = prevc.pk
  JOIN uni ON split_part(bgc.bg, ' ', 2) = uni.tk
  CROSS JOIN tot
),
sbg AS (
  SELECT doc_id, CAST(sum(n * nllq) AS BIGINT) AS s_bg
  FROM pdb JOIN lm USING (bg) GROUP BY doc_id
),
sfirst AS (
  SELECT b.doc_id,
    CAST(round(-ln(uni.cu / CAST(tot.total AS DOUBLE)) * 1000000, 0) AS BIGINT)
      AS s_first
  FROM b JOIN uni ON b.t1 = uni.tk CROSS JOIN tot
  WHERE b.t1 IS NOT NULL
)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
  CASE WHEN b.n_tokens > 0
       THEN round((coalesce(s_bg, 0) + coalesce(s_first, 0))
                  / (b.n_tokens * 1000000.0), 6)
       ELSE 0.0 END AS mean_nll
FROM b LEFT JOIN sbg USING (doc_id) LEFT JOIN sfirst USING (doc_id)
"""


_BLOCKLIST = ("slow", "dup", "spam")


def q_tx_blocklist(spark, sf_dir):
    """C4-style bad-words gate (llm/text.blocklist_signals): token-level
    exact matching on the canonical stream (no substring false
    positives), per-doc hit count / ratio / pass verdict. Map-only."""
    from udata_datalake_service_spark.llm.text import blocklist_signals

    d = _t(spark, sf_dir, "documents")
    sig = blocklist_signals(F.col("text"), _BLOCKLIST)
    return d.select(
        "doc_id",
        sig["n_blocked"].alias("n_blocked"),
        sig["blocked_ratio"].alias("blocked_ratio"),
        sig["blocklist_pass"].alias("blocklist_pass"),
    )


_SQL_TX_BLOCKLIST = f"""
WITH x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents)
SELECT doc_id,
  CAST(len(list_filter(t, tk -> tk IN ('slow', 'dup', 'spam'))) AS BIGINT)
    AS n_blocked,
  CASE WHEN len(t) > 0
       THEN round(len(list_filter(t, tk -> tk IN ('slow', 'dup', 'spam')))
                  / CAST(len(t) AS DOUBLE), 6)
       ELSE 0.0 END AS blocked_ratio,
  len(list_filter(t, tk -> tk IN ('slow', 'dup', 'spam'))) = 0
    AS blocklist_pass
FROM x
"""


_MIX_BUDGET = 1_000_000
_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.2, "src3": 0.2, "src4": 0.1}


def q_mixture_plan(spark, sf_dir):
    """Domain-mixture sampling plan (llm/mixing.mixture_plan): target
    weights + a 1M-token budget → per-source target tokens and EPOCHS
    (the repeat factor The Pile/Llama data cards publish per subset).
    One tiny per-source aggregate; the corpus never moves."""
    from udata_datalake_service_spark.llm.mixing import mixture_plan

    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    return mixture_plan(d, _MIX_WEIGHTS, _MIX_BUDGET)


_SQL_MIXTURE_PLAN = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
    CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  -- CAST: a DECIMAL literal would flow DECIMAL through the arithmetic
  -- (pandas-conversion hazard the oracle-types guard rejects)
  SELECT source, CAST(weight AS DOUBLE) AS weight FROM (VALUES
    ('src0', 0.3), ('src1', 0.2), ('src2', 0.2), ('src3', 0.2), ('src4', 0.1)
  ) AS t(source, weight)
)
SELECT per.source, per.n_docs, per.n_tokens,
  round(w.weight, 6) AS weight,
  CAST(round(w.weight * {_MIX_BUDGET}, 0) AS BIGINT) AS target_tokens,
  round(w.weight * {_MIX_BUDGET} / per.n_tokens, 6) AS epochs,
  (w.weight * {_MIX_BUDGET} > per.n_tokens) AS repeated
FROM per JOIN w USING (source)
"""


def q_dd_lsh_eval(spark, sf_dir):
    """Dedup candidate-quality scorecard (llm/dedup.pair_set_eval): the
    MinHash+LSH pair set (signature estimate ≥ 0.35) scored against the
    exact n-gram Jaccard pairs at the same threshold — precision / recall
    / F1, the gate before trusting a (hashes, bands) configuration at
    scale (the dedup twin of ann_recall)."""
    from udata_datalake_service_spark.llm.dedup import (
        pair_set_eval,
        shingles_of_tokens,
    )

    d = _tw(spark, sf_dir, "documents")
    # r14 (guide §2.3, VERDICT item 6): ONE tokenize+shingle corpus pass
    # for BOTH scorecard sides. The exploded distinct (id, shingle
    # STRING) grain is the shared parent of the MinHash signature build
    # (md5 mins over it) and the exact-Jaccard inverted index (xxhash64
    # over it) — previously minhash_signatures and ngram_jaccard_pairs'
    # internal shingle_index each re-ran the full pass. Values are
    # identical by construction: both helpers built exactly this grain
    # internally (explode(array_distinct(shingles_of_tokens(t, k)))).
    shs = (
        d.select(F.col("doc_id").alias("id"), tokens(F.col("text")).alias("__t"))
        .select(
            "id",
            F.explode(
                F.array_distinct(shingles_of_tokens(F.col("__t"), _MINHASH_K))
            ).alias("sh"),
        )
        .persist()
    )
    sigs = minhash_signatures(
        d, num_hashes=_MINHASH_N, k=_MINHASH_K, shingles=shs
    ).persist()
    cand = lsh_candidate_pairs(sigs, num_bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    approx = minhash_jaccard_estimate(sigs, cand).filter(
        F.col("jaccard_est") >= 0.35
    )
    idx = shs.select("id", F.xxhash64("sh").alias("sh"))
    exact = ngram_jaccard_pairs(d, k=_MINHASH_K, threshold=0.35, index=idx)
    return settle(pair_set_eval(approx, exact), sigs, shs, *adopted(exact))


_SQL_DD_LSH_EVAL = f"""
WITH approx AS (
  SELECT id_a, id_b FROM ({_SQL_DD_LSH}) WHERE jaccard_est >= 0.35
),
x AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (SELECT doc_id AS id, unnest({_sql_shingles(_MINHASH_K)}) AS s FROM x),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
  WHERE ROUND(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 6) >= 0.35
),
hit AS (SELECT count(*) AS n_hit FROM approx JOIN exact USING (id_a, id_b)),
na AS (SELECT count(*) AS n_approx FROM approx),
ne AS (SELECT count(*) AS n_exact FROM exact),
pr AS (
  SELECT ne.n_exact, na.n_approx, hit.n_hit,
    CASE WHEN na.n_approx > 0
         THEN hit.n_hit / CAST(na.n_approx AS DOUBLE) ELSE 0.0 END AS p,
    CASE WHEN ne.n_exact > 0
         THEN hit.n_hit / CAST(ne.n_exact AS DOUBLE) ELSE 0.0 END AS r
  FROM ne, na, hit
)
SELECT n_exact, n_approx, n_hit,
  round(p, 6) AS precision, round(r, 6) AS recall,
  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
FROM pr
"""


def q_html_extract(spark, sf_dir):
    """HTML→text extraction (llm/html.py): each document wrapped in a
    deterministic page skeleton (head/style/script to drop, comment,
    block tags, two anchors, an entity run), then the regexp-tier
    extractor + boilerplate signals. The oracle replays the whole
    cascade, so tag stripping, entity decode ORDER (&amp; last) and
    whitespace collapse are all hash-pinned."""
    from udata_datalake_service_spark.llm.html import html_signals, html_to_text

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            "<html><head><title>t</title><style>p {color: red}</style>"
            "<script type='text/javascript'>var x = '<p>not text</p>';</script>"
            "</head><body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><!-- hidden <b>comment</b> --><p>"),
        F.col("text"),
        F.lit(
            "</p><div><a href='/a'>first link</a> &amp; "
            "<a href='/b'>second&nbsp;link</a></div>"
            "<ul><li>&lt;item&gt;</li><li>&quot;quoted&#39;</li></ul>"
            "</body></html>"
        ),
    )
    sig = html_signals(html)
    return d.select(
        "doc_id",
        html_to_text(html).alias("text_out"),
        sig["n_links"].cast("long").alias("n_links"),
        sig["n_tags"].cast("long").alias("n_tags"),
        sig["text_ratio"].alias("text_ratio"),
    )


def _sql_html_pipeline(src: str) -> tuple[str, str]:
    """(extracted_text_expr, html_expr) replaying llm/html.py in DuckDB."""
    h = (
        "'<html><head><title>t</title><style>p {color: red}</style>"
        "<script type=''text/javascript''>var x = ''<p>not text</p>'';</script>"
        "</head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || "
        "'</h1><!-- hidden <b>comment</b> --><p>' || " + src + " || "
        "'</p><div><a href=''/a''>first link</a> &amp; "
        "<a href=''/b''>second&nbsp;link</a></div>"
        "<ul><li>&lt;item&gt;</li><li>&quot;quoted&#39;</li></ul>"
        "</body></html>'"
    )
    t = h
    for pat in (
        r"(?is)<script\b[^>]*>.*?</script>",
        r"(?is)<style\b[^>]*>.*?</style>",
        r"(?s)<!--.*?-->",
    ):
        t = f"regexp_replace({t}, '{pat}', ' ', 'g')"
    t = (
        f"regexp_replace({t}, "
        "'(?i)</(?:p|div|li|tr|h[1-6]|ul|ol|table|blockquote)>|<br\\b[^>]*/?>',"
        " chr(10), 'g')"
    )
    t = f"regexp_replace({t}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, repl in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&amp;", "&"),
    ):
        t = f"replace({t}, '{ent}', '{repl}')"
    t = f"regexp_replace({t}, '[ \\t]+', ' ', 'g')"
    t = f"regexp_replace({t}, ' ?\\n[ \\n]*', chr(10), 'g')"
    return f"trim({t})", h


_SQL_HTML_TEXT, _SQL_HTML_RAW = _sql_html_pipeline("text")

_SQL_HTML_EXTRACT = f"""
SELECT doc_id,
  {_SQL_HTML_TEXT} AS text_out,
  CAST(len(regexp_extract_all({_SQL_HTML_RAW}, '(?i)<a\\b')) AS BIGINT)
    AS n_links,
  CAST(len(regexp_extract_all({_SQL_HTML_RAW}, '(?s)<[^>]*>')) AS BIGINT)
    AS n_tags,
  CASE WHEN length({_SQL_HTML_RAW}) > 0
       THEN round(length({_SQL_HTML_TEXT})
                  / CAST(length({_SQL_HTML_RAW}) AS DOUBLE), 6)
       ELSE 0.0 END AS text_ratio
FROM documents
"""


def q_corpus_warc_ingest(spark, sf_dir):
    """Raw-crawl boundary end-to-end (sources/warc.py): render documents
    (doc_id%3=0) as a two-file WARC crawl — one plain, one per-record-gzip
    (the CommonCrawl member layout) — then run the distributed path:
    binaryFile → length-driven record split (mapInPandas) → HTTP envelope
    parse → url_quality gate → html_to_text extraction on the 200s.
    Fixture quirks attest the parser: a warcinfo + request record per file
    head must be type-filtered out, doc_id%5=0 responses are 404 (no
    extraction), doc_id%11=0 URLs are .zip downloads the URL gate drops.
    The oracle replays record synthesis, URL signals and the extraction
    cascade in SQL from documents directly — framing bugs (payload
    truncation, gzip member loss, header misparse) surface as hash or row
    diffs. Reference anchor: the download→analyse boundary at
    udata_hydra/utils/file.py:34-75 (this stage sits upstream of it)."""
    import hashlib
    import os

    from udata_datalake_service_spark.functions.urls import url_quality_filter
    from udata_datalake_service_spark.llm.html import html_to_text
    from udata_datalake_service_spark.sources.warc import read_warc, write_warc

    rows = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text", "lang")
        .collect()
    )
    files: dict[bool, list] = {False: [], True: []}
    for gz in files:
        files[gz].append(
            (
                {"WARC-Type": "warcinfo", "Content-Type": "application/warc-fields"},
                b"software: udata-datalake-service-spark\r\n",
            )
        )
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        i = r["doc_id"]
        url = (
            f"https://files.crawl.test/dl/doc-{i}.zip"
            if i % 11 == 0
            else f"https://crawl.test/{r['lang']}/doc-{i}"
        )
        status = 404 if i % 5 == 0 else 200
        html = (
            f"<html><body><h1>Doc {i}</h1><p>{r['text']}</p></body></html>"
            if status == 200
            else "<html><body><p>gone</p></body></html>"
        )
        files[i % 2 == 1].append(
            (
                {
                    "WARC-Type": "request",
                    "WARC-Target-URI": url,
                    "Content-Type": "application/http; msgtype=request",
                },
                f"GET /doc-{i} HTTP/1.1\r\nHost: crawl.test\r\n\r\n".encode(),
            )
        )
        files[i % 2 == 1].append(
            (
                {
                    "WARC-Type": "response",
                    "WARC-Record-ID": f"<urn:doc:{i}>",
                    "WARC-Target-URI": url,
                    "WARC-Date": "2026-01-01T00:00:00Z",
                    "Content-Type": "application/http; msgtype=response",
                },
                f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n\r\n".encode()
                + html.encode(),
            )
        )
    # Fixture staging (ADVICE r6): key the directory by (sf_dir, pid) so
    # concurrent runs against the same sf_dir never interleave writes
    # under a reader's binaryFile scan, and write each file via
    # os.replace so a scan in THIS process never sees a partial file.
    # Local-mode assumption (documented): executors share the driver
    # filesystem; on a real cluster this staging path must be a shared
    # location (s3a/HDFS), exactly like any other Spark input.
    d = (
        f"/tmp/spark_warc_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
        f"_{os.getpid()}"
    )
    os.makedirs(d, exist_ok=True)
    for fname, blob in (
        ("crawl-00.warc", write_warc(files[False])),
        ("crawl-01.warc.gz", write_warc(files[True], gzip_members=True)),
    ):
        tmp = os.path.join(d, f".{fname}.tmp")
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, os.path.join(d, fname))

    recs = read_warc(spark, d).filter(F.col("warc_type") == "response")
    gated = url_quality_filter(recs.withColumn("url", F.col("target_uri")), "url")
    return gated.select(
        F.regexp_extract("url", r"doc-(\d+)", 1).cast("long").alias("doc_id"),
        "url",
        F.col("http_status").cast("int").alias("http_status"),
        "host",
        "bad_ext",
        "url_keep",
        F.length("payload").cast("long").alias("n_body_bytes"),
        F.when(
            (F.col("http_status") == 200) & F.col("url_keep"),
            html_to_text(F.col("payload").cast("string")),
        ).alias("text_out"),
    )


def q_dist_match_sample(spark, sf_dir):
    """Distribution-matched sampling (llm/mixing.py:distribution_match_sample):
    resample documents so the LENGTH distribution matches a deliberately
    short-skewed target slice (doc_id%4=0 AND n_chars<300) across 4
    target-quantile bins. Deterministic end-to-end — target quantile
    boundaries (percentile ≡ DuckDB quantile_cont), per-bin keep rates
    computed in the same float-op order on both sides, md5 unit-hash coin —
    so the oracle replays the whole device and the kept ROW SET is
    hash-pinned, not just counts."""
    from udata_datalake_service_spark.llm.mixing import distribution_match_sample

    d = _t(spark, sf_dir, "documents")
    raw = d.select("doc_id", F.col("n_chars").cast("double").alias("s"))
    target = d.filter((F.col("doc_id") % 4 == 0) & (F.col("n_chars") < 300)).select(
        F.col("n_chars").cast("double").alias("s")
    )
    kept = distribution_match_sample(
        raw, target, score="s", key_cols=["doc_id"], n_bins=4, seed="dm0"
    )
    return kept.select(
        "doc_id", "s", F.col("__dm_bin").cast("int").alias("dm_bin")
    )


_SQL_DIST_MATCH = """
WITH raw AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents),
tgt AS (SELECT CAST(n_chars AS DOUBLE) AS s FROM documents
        WHERE doc_id % 4 = 0 AND n_chars < 300),
b AS (SELECT quantile_cont(s, [0.25, 0.5, 0.75]) AS bs FROM tgt),
rb AS (
  SELECT doc_id, s,
    1 + CASE WHEN s > bs[1] THEN 1 ELSE 0 END
      + CASE WHEN s > bs[2] THEN 1 ELSE 0 END
      + CASE WHEN s > bs[3] THEN 1 ELSE 0 END AS dm_bin
  FROM raw CROSS JOIN b),
tb AS (
  SELECT 1 + CASE WHEN s > bs[1] THEN 1 ELSE 0 END
           + CASE WHEN s > bs[2] THEN 1 ELSE 0 END
           + CASE WHEN s > bs[3] THEN 1 ELSE 0 END AS dm_bin
  FROM tgt CROSS JOIN b),
tc AS (SELECT dm_bin, count(*) AS n FROM tb GROUP BY 1),
rc AS (SELECT dm_bin, count(*) AS n FROM rb GROUP BY 1),
sums AS (SELECT (SELECT sum(n) FROM tc) AS nt, (SELECT sum(n) FROM rc) AS nr),
ratios AS (
  SELECT rc.dm_bin,
    (coalesce(tc.n, 0) / CAST(nt AS DOUBLE)) / (rc.n / CAST(nr AS DOUBLE))
      AS ratio
  FROM rc LEFT JOIN tc USING (dm_bin) CROSS JOIN sums),
rates AS (SELECT dm_bin, ratio / max(ratio) OVER () AS rate FROM ratios)
SELECT doc_id, s, CAST(dm_bin AS INTEGER) AS dm_bin
FROM rb JOIN rates USING (dm_bin)
WHERE ('0x' || substr(md5('dm0' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
      / 4294967296.0 < rate
"""


def q_temporal_split(spark, sf_dir):
    """Leakage-safe temporal split with embargo (llm/mixing.py:temporal_split):
    orders before 1996-01-01 train, at/after 1997-01-01 test, the year
    between is embargoed, and NULLed timestamps (o_orderkey%97=0 here)
    land in embargo — never silently in train. Pure map-only expressions;
    the oracle restates the predicate ladder directly."""
    from udata_datalake_service_spark.llm.mixing import temporal_split

    import datetime

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_orderdate"))
        .alias("ts"),
    )
    return temporal_split(
        o,
        "ts",
        datetime.datetime(1996, 1, 1),
        datetime.datetime(1997, 1, 1),
    )


_SQL_TEMPORAL_SPLIT = """
WITH o AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderdate END AS ts
  FROM orders)
SELECT o_orderkey, ts,
  CASE WHEN ts < TIMESTAMP '1996-01-01' THEN 'train'
       WHEN ts >= TIMESTAMP '1997-01-01' THEN 'test'
       ELSE 'embargo' END AS split
FROM o
"""


def _sql_html_cascade(expr: str) -> str:
    """Replay llm/html.py's html_to_text over an arbitrary SQL HTML
    expression (DuckDB RE2 flavor, same pattern order as the Spark side)."""
    t = expr
    for pat in (
        r"(?is)<script\b[^>]*>.*?</script>",
        r"(?is)<style\b[^>]*>.*?</style>",
        r"(?s)<!--.*?-->",
    ):
        t = f"regexp_replace({t}, '{pat}', ' ', 'g')"
    t = (
        f"regexp_replace({t}, "
        "'(?i)</(?:p|div|li|tr|h[1-6]|ul|ol|table|blockquote)>|<br\\b[^>]*/?>',"
        " chr(10), 'g')"
    )
    t = f"regexp_replace({t}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, repl in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&amp;", "&"),
    ):
        t = f"replace({t}, '{ent}', '{repl}')"
    t = f"regexp_replace({t}, '[ \\t]+', ' ', 'g')"
    t = f"regexp_replace({t}, ' ?\\n[ \\n]*', chr(10), 'g')"
    return f"trim({t})"


_SQL_WARC_HTML = (
    "'<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text "
    "|| '</p></body></html>'"
)

_SQL_CORPUS_WARC_INGEST = f"""
WITH sel AS (
  SELECT doc_id, text,
    CASE WHEN doc_id % 11 = 0
      THEN 'https://files.crawl.test/dl/doc-' || CAST(doc_id AS VARCHAR) || '.zip'
      ELSE 'https://crawl.test/' || lang || '/doc-' || CAST(doc_id AS VARCHAR)
    END AS url,
    CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS http_status,
    CASE WHEN doc_id % 5 = 0
      THEN '<html><body><p>gone</p></body></html>'
      ELSE {_SQL_WARC_HTML} END AS html
  FROM documents WHERE doc_id % 3 = 0
),
sig AS (
  SELECT *,
    nullif(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1), '') AS host,
    regexp_matches(url,
      '(?i)\\.(exe|zip|rar|7z|dmg|apk|iso|msi|bin|tar|gz)([?#].*)?$') AS bad_ext,
    round((length(url) - length(regexp_replace(url, '[0-9]', '', 'g')))
          / CAST(greatest(length(url), 1) AS DOUBLE), 6) AS digit_ratio
  FROM sel
)
SELECT doc_id, url, http_status, host, bad_ext,
  (NOT bad_ext AND length(url) <= 512 AND digit_ratio < 0.5
   AND NOT coalesce(regexp_matches(host,
     '^\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}$'), FALSE)
   AND host IS NOT NULL) AS url_keep,
  CAST(octet_length(encode(html)) AS BIGINT) AS n_body_bytes,
  CASE WHEN http_status = 200
        AND (NOT bad_ext AND length(url) <= 512 AND digit_ratio < 0.5
             AND NOT coalesce(regexp_matches(host,
               '^\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}$'), FALSE)
             AND host IS NOT NULL)
       THEN {_sql_html_cascade("html")} END AS text_out
FROM sig
"""


def q_dq_expectations(spark, sf_dir):
    """Row-level data-quality gate (operators/expectations.py): a 5-rule
    constraint set over orders → per-rule violation counts/rates plus the
    ``_any_`` roll-up — the ingest scorecard of a Delta-CHECK / dbt-test
    layer. Two rules are genuinely violated by the data (even-key parity,
    the pre-2000 date bound), proving the counting; NULL rule results count as
    violations (ingest-safe inversion of SQL CHECK)."""
    from udata_datalake_service_spark.operators.expectations import report

    o = _t(spark, sf_dir, "orders")
    rules = {
        "positive_price": F.col("o_totalprice") > 0,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_format": F.col("o_orderpriority").rlike("^[1-5]-"),
        "even_key": F.col("o_orderkey") % 2 == 0,
        "date_pre_2000": F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"),
    }
    return report(o, rules)


_SQL_DQ = """
WITH n AS (SELECT count(*) AS n_rows FROM orders),
v AS (
  SELECT 'date_pre_2000' AS rule,
    count(*) FILTER (WHERE NOT coalesce(o_orderdate < TIMESTAMP '2000-01-01', FALSE)) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'even_key',
    count(*) FILTER (WHERE NOT coalesce(o_orderkey % 2 = 0, FALSE)) FROM orders
  UNION ALL
  SELECT 'positive_price',
    count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0, FALSE)) FROM orders
  UNION ALL
  SELECT 'priority_format',
    count(*) FILTER (WHERE NOT coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)) FROM orders
  UNION ALL
  SELECT 'status_known',
    count(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE)) FROM orders
  UNION ALL
  SELECT '_any_',
    count(*) FILTER (WHERE NOT coalesce(o_orderdate < TIMESTAMP '2000-01-01', FALSE)
                        OR NOT coalesce(o_orderkey % 2 = 0, FALSE)
                        OR NOT coalesce(o_totalprice > 0, FALSE)
                        OR NOT coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)
                        OR NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE))
  FROM orders
)
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
  round(n_violations / CAST(n.n_rows AS DOUBLE), 6) AS violation_rate
FROM v CROSS JOIN n
"""


def q_scd2_merge(spark, sf_dir):
    """SCD Type-2 history-preserving merge (operators/scd.py): customers
    seeded as an open-version dimension at t0, then one update batch at
    t1 with all four cases — changed attributes (key%3=0 → balance
    shift; the open row closes at t1 and a new version opens), verbatim
    no-op re-sends (key%5=0, no version churn), brand-new keys
    (key+1000000 for key%7=0), and untouched keys. Output = the full
    post-merge table state."""
    from udata_datalake_service_spark.operators.scd import scd2_merge

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    t0 = F.expr("timestamp '2024-01-01 00:00:00'")
    t1 = F.expr("timestamp '2024-02-01 00:00:00'")
    current = cust.select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    k = F.col("c_custkey")
    changed = cust.filter(k % 3 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
        "c_mktsegment",
        t1.alias("valid_from"),
    )
    noop = cust.filter((k % 5 == 0) & (k % 3 != 0)).select(
        "c_custkey", "c_acctbal", "c_mktsegment", t1.alias("valid_from")
    )
    fresh = cust.filter(k % 7 == 0).select(
        (k + 1_000_000).alias("c_custkey"),
        F.lit(1.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        t1.alias("valid_from"),
    )
    updates = changed.unionByName(noop).unionByName(fresh)
    out = scd2_merge(
        current, updates, ["c_custkey"], ["c_acctbal", "c_mktsegment"]
    )
    return out.select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        _us(F.col("valid_from")).alias("valid_from_us"),
        _us(F.col("valid_to")).alias("valid_to_us"),
        "is_current",
    )


_SQL_SCD2 = """
WITH t AS (SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:00') AS t0,
                  epoch_us(TIMESTAMP '2024-02-01 00:00:00') AS t1),
closed AS (  -- key%3=0: the t0 version closes at t1
  SELECT c_custkey, c_acctbal, c_mktsegment,
    t.t0 AS valid_from_us, t.t1 AS valid_to_us, FALSE AS is_current
  FROM customer, t WHERE c_custkey % 3 = 0
),
reopened AS (  -- ...and its t1 version opens with the shifted balance
  SELECT c_custkey, round(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment,
    t.t1, NULL, TRUE
  FROM customer, t WHERE c_custkey % 3 = 0
),
untouched AS (  -- no-op re-sends and never-updated keys keep t0 open
  SELECT c_custkey, c_acctbal, c_mktsegment, t.t0, NULL, TRUE
  FROM customer, t WHERE c_custkey % 3 <> 0
),
fresh AS (
  SELECT c_custkey + 1000000, 1.0, 'NEW', t.t1, NULL, TRUE
  FROM customer, t WHERE c_custkey % 7 = 0
)
SELECT * FROM closed
UNION ALL SELECT * FROM reopened
UNION ALL SELECT * FROM untouched
UNION ALL SELECT * FROM fresh
"""


# =========================================================================
# The contract
# =========================================================================
# Registry order is load-bearing: the driver's correctness gate attests
# the FIRST 50 entries. Since round 6 the order is no longer hand-curated:
# attestation.rotation_order sorts by (new/changed this round first, then
# least-recently driver-attested), so every query structurally re-enters
# the 50-slot window at least every ceil(N/50) rounds — see attestation.py
# and the invariants in tests/test_entry_contract.py. The literal dict
# below is therefore just the catalog; its textual order is irrelevant.

def q_s9_f10_http_surface(spark, sf_dir):
    """S9 + F10 scalar surface with a value-hash oracle (upgraded from
    pytest-only in r7): per document, synthesize a content-type from an
    8-entry cycle (incl. NULL, mixed case, gzip types) and a URL
    (every 3rd a .csv.gz download), then drive the real column
    expressions — ``sniff_tabular`` (utils/csv.py:4-43 when-cascade,
    first-match order attested), ``lower_keys`` + ``header`` extraction
    through a MIXED-CASE header map (crawl/helpers.py:24-35: extraction
    only works if the keys really were lowered), and
    ``split_content_type``. The oracle replays the cascade and the
    extractions in SQL; any ordering or case-handling drift breaks the
    hash."""
    from udata_datalake_service_spark.functions.http import (
        header,
        lower_keys,
        sniff_tabular,
        split_content_type,
    )

    cts = [
        "text/csv; charset=utf-8",
        "application/octet-stream",
        "application/vnd.ms-excel",
        "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
        "application/json",
        "TEXT/PLAIN",
        None,
        "application/x-gzip",
    ]
    d = _t(spark, sf_dir, "documents").select("doc_id")
    ct = F.element_at(
        F.array(*[F.lit(x).cast("string") for x in cts]),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://files.test/dl/f"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".csv.gz")).otherwise(F.lit(".bin")),
    )
    headers = F.map_from_arrays(
        F.array(F.lit("Content-Type"), F.lit("X-Custom-HDR")),
        F.array(ct, F.concat(F.lit("v"), F.col("doc_id").cast("string"))),
    )
    lowered = lower_keys(headers)
    sn = sniff_tabular(ct, url)
    return d.select(
        "doc_id",
        sn["is_tabular"].alias("is_tabular"),
        sn["format"].alias("fmt"),
        header(lowered, "Content-Type").alias("ct_extracted"),
        header(lowered, "X-CUSTOM-HDR").alias("custom_extracted"),
        split_content_type(F.coalesce(ct, F.lit(""))).alias("ct_base"),
    )


_SQL_S9_F10 = """
WITH f AS (
  SELECT doc_id,
    (['text/csv; charset=utf-8','application/octet-stream',
      'application/vnd.ms-excel',
      'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet',
      'application/json','TEXT/PLAIN',NULL,
      'application/x-gzip'])[(doc_id % 8) + 1] AS ct,
    'https://files.test/dl/f' || doc_id ||
      CASE WHEN doc_id % 3 = 0 THEN '.csv.gz' ELSE '.bin' END AS url
  FROM documents
),
g AS (SELECT doc_id, ct, url, lower(coalesce(ct, '')) AS lct FROM f)
SELECT doc_id,
  CASE
    WHEN lct LIKE 'application/csv%' OR lct LIKE 'text/plain%'
      OR lct LIKE 'text/csv%' THEN TRUE
    WHEN (lct LIKE 'application/octet-stream%' OR lct LIKE 'application/x-gzip%'
      OR lct LIKE 'application/gzip%')
      AND coalesce(url, '') LIKE '%csv.gz%' THEN TRUE
    WHEN lct LIKE 'application/vnd.ms-excel%' THEN TRUE
    WHEN lct LIKE
      'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet%'
      THEN TRUE
    ELSE FALSE
  END AS is_tabular,
  CASE
    WHEN lct LIKE 'application/csv%' OR lct LIKE 'text/plain%'
      OR lct LIKE 'text/csv%' THEN 'csv'
    WHEN (lct LIKE 'application/octet-stream%' OR lct LIKE 'application/x-gzip%'
      OR lct LIKE 'application/gzip%')
      AND coalesce(url, '') LIKE '%csv.gz%' THEN 'csvgz'
    WHEN lct LIKE 'application/vnd.ms-excel%' THEN 'xls'
    WHEN lct LIKE
      'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet%'
      THEN 'xlsx'
    ELSE 'csv'
  END AS fmt,
  ct AS ct_extracted,
  'v' || doc_id AS custom_extracted,
  trim(string_split(coalesce(ct, ''), ';')[1]) AS ct_base
FROM g
"""



_FETCH_FIXTURE = {"server": None, "base": None}


def _fetch_fixture_base() -> str | None:
    """Start (once per process) the S1 live-fetch fixture server — a
    localhost ThreadingHTTPServer with a fixed behavior matrix. Returns
    the base URL, or None when loopback networking is unavailable (the
    query then degrades to a mock transport with the identical matrix).
    Local-mode assumption: executors share the driver host, so
    127.0.0.1 resolves to this server from worker processes."""
    if _FETCH_FIXTURE["base"] is not None:
        return _FETCH_FIXTURE["base"]
    import socket
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    try:
        probe = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        probe.bind(("127.0.0.1", 0))
        probe.close()
    except OSError:
        return None

    class H(BaseHTTPRequestHandler):
        def _route(self, body_ok):
            if self.path == "/ok":
                body = b"hello world"
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.send_header("Last-Modified", "Wed, 01 Jan 2026 00:00:00 GMT")
                self.end_headers()
                if body_ok:
                    self.wfile.write(body)
            elif self.path == "/no-meta":
                self.send_response(200)
                if body_ok:
                    body = b"fallback body"
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                else:
                    self.end_headers()
            elif self.path == "/gzip":
                import gzip as _gz

                raw = _gz.compress(b"gzip payload", mtime=0)
                self.send_response(200)
                self.send_header("Content-Encoding", "gzip")
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                if body_ok:
                    self.wfile.write(raw)
            else:  # /gone and anything else
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()

        def do_HEAD(self):  # noqa: N802
            self._route(False)

        def do_GET(self):  # noqa: N802
            self._route(True)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    _FETCH_FIXTURE["server"] = srv
    _FETCH_FIXTURE["base"] = f"http://127.0.0.1:{srv.server_address[1]}"
    return _FETCH_FIXTURE["base"]


def _mock_fixture_transport(url, method):
    """Fallback transport replaying the fixture server's matrix exactly
    (used only when loopback is unavailable in the host environment)."""
    path = "/" + url.rsplit("/", 1)[1]
    if path == "/ok":
        h = {"Content-Length": "11", "Last-Modified": "Wed, 01 Jan 2026 00:00:00 GMT"}
        return 200, h, None
    if path == "/no-meta":
        return (200, {}, None) if method == "head" else (200, {"Content-Length": "13"}, None)
    if path == "/gzip":
        import gzip as _gz

        raw = _gz.compress(b"gzip payload", mtime=0)
        return 200, {"Content-Encoding": "gzip", "Content-Length": str(len(raw))}, None
    return 404, {"Content-Length": "0"}, None


def q_s1_live_fetch(spark, sf_dir):
    """S1 with a value-hash oracle over REAL sockets (upgraded from
    pytest-only in r7): a localhost fixture server with the reference's
    behavior matrix (crawl/check_resources.py:56-206 / helpers.py:47-53)
    is fetched by the REAL urllib transport from executor Python workers
    through check_batch's mapInPandas — connection handling, HEAD/GET
    verbs, header lowering, all live. One check per doc_id%7==0 document,
    endpoint cycling by doc_id%4: nice-HEAD kept (/ok), metadata-free
    HEAD forcing the GET fallback (/no-meta), 404 recorded as data
    (/gone), gzip content-encoding lowered into the row (/gzip). Output
    keeps only the deterministic fields (status/method/headers), never
    response_time. Degrades to a mock transport with the identical
    matrix where loopback is blocked."""
    from udata_datalake_service_spark.plans.fetch import check_batch, urllib_transport

    base = _fetch_fixture_base()
    transport = urllib_transport if base is not None else _mock_fixture_transport
    if base is None:
        base = "http://fixture.invalid"
    paths = ["/ok", "/no-meta", "/gone", "/gzip"]
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    batch = d.select(
        F.col("doc_id").cast("string").alias("resource_id"),
        F.concat(
            F.lit(base),
            F.element_at(
                F.array(*[F.lit(x) for x in paths]),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ),
        ).alias("url"),
    )
    out = check_batch(batch, transport=transport, fan_out=4)
    return out.select(
        F.col("resource_id").cast("long").alias("doc_id"),
        F.col("status").cast("int").alias("status"),
        "method",
        F.col("timeout").alias("timed_out"),
        F.element_at(F.col("headers"), "content-encoding").alias("content_encoding"),
        F.when(
            F.col("status") != 404,
            F.element_at(F.col("headers"), "content-length").cast("long"),
        ).alias("body_bytes"),
    )


_SQL_S1_LIVE = """
SELECT doc_id,
  CASE doc_id % 4 WHEN 2 THEN 404 ELSE 200 END AS status,
  CASE doc_id % 4 WHEN 0 THEN 'head' WHEN 3 THEN 'head' ELSE 'get' END AS method,
  FALSE AS timed_out,
  CASE doc_id % 4 WHEN 3 THEN 'gzip' ELSE NULL END AS content_encoding,
  CASE doc_id % 4 WHEN 0 THEN 11 WHEN 1 THEN 13 WHEN 3 THEN 32 ELSE NULL END
    AS body_bytes
FROM documents WHERE doc_id % 7 = 0
"""



def q_st1_microbatch_rates(spark, sf_dir):
    """ST1+ST2 through the REAL Structured Streaming engine with a
    value-hash oracle (upgraded from pytest-only in r7): synthesize a
    deterministic checks lake from documents (one check per doc, event
    time = epoch + doc_id*47 s, domain cycling over 5 hosts, every 6th a
    429), stream it through the file-source ``stream_checks`` reader and
    the ST2 ``domain_rate_windows`` sliding-window aggregation
    (360 s window / 60 s slide) under an availableNow trigger into a
    memory sink, and return the finalized per-(window, domain) counts.
    Complete output mode makes the result watermark-independent, so the
    DuckDB oracle replays the slide arithmetic exactly: each event lands
    in the 6 windows whose start lies in (t-360, t] on the 60 s grid.
    The streaming ENGINE (micro-batch planner, state store, window
    assignment) is inside the attested path — not a batch restatement."""
    import hashlib
    import os
    import uuid

    from udata_datalake_service_spark.streaming.checks_stream import (
        domain_rate_windows,
        stream_checks,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    checks = d.select(
        F.col("doc_id").alias("id"),
        F.col("doc_id").cast("string").alias("resource_id"),
        F.concat(F.lit("https://h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".test/r"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".test")).alias("domain"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 47)
            .alias("created_at"),
        F.when(F.col("doc_id") % 6 == 0, F.lit(429)).otherwise(F.lit(200))
            .cast("int").alias("status"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        F.lit(False).alias("timeout"),
        F.lit(0.1).alias("response_time"),
        F.lit(None).cast("string").alias("error"),
        F.lit(None).cast("string").alias("checksum"),
        F.lit(None).cast("long").alias("filesize"),
        F.lit("text/csv").alias("mime_type"),
        F.lit(None).cast("string").alias("analysis_error"),
        F.lit(None).cast("timestamp").alias("detected_last_modified_at"),
        F.lit(None).cast("string").alias("parsing_error"),
        F.lit(None).cast("string").alias("parsing_table"),
        F.lit(None).cast("timestamp").alias("parsing_started_at"),
        F.lit(None).cast("timestamp").alias("parsing_finished_at"),
        F.lit(None).cast("timestamp").alias("next_check_at"),
        F.lit(None).cast("string").alias("parquet_url"),
        F.lit(None).cast("long").alias("parquet_size"),
    )
    root = (
        f"/tmp/spark_st1_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
        f"_{os.getpid()}"
    )
    checks.write.mode("overwrite").parquet(root)

    rates = domain_rate_windows(stream_checks(spark, root))
    qname = f"st1_rates_{uuid.uuid4().hex[:10]}"
    q = (
        rates.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).select(
        F.unix_timestamp("window.start").alias("w_start"),
        F.unix_timestamp("window.end").alias("w_end"),
        "domain",
        F.col("n_checks").cast("long").alias("n_checks"),
        F.col("n_429").cast("long").alias("n_429"),
    )


_SQL_ST1_RATES = """
WITH ev AS (
  SELECT doc_id,
    'h' || (doc_id % 5) || '.test' AS domain,
    1700000000 + doc_id * 47 AS t,
    CASE WHEN doc_id % 6 = 0 THEN 429 ELSE 200 END AS status
  FROM documents
),
wins AS (
  SELECT ev.domain, ev.status,
    (ev.t // 60) * 60 - 60 * off.o AS w_start
  FROM ev CROSS JOIN (SELECT unnest(range(0, 6)) AS o) off
  WHERE ev.t >= (ev.t // 60) * 60 - 60 * off.o
    AND ev.t < (ev.t // 60) * 60 - 60 * off.o + 360
)
SELECT w_start, w_start + 360 AS w_end, domain,
  count(*) AS n_checks,
  count(*) FILTER (WHERE status = 429) AS n_429
FROM wins GROUP BY w_start, domain
"""


def q_dense_ids(spark, sf_dir):
    """Scalable contiguous row numbering (operators/ids.py): a dense
    0-based ordinal over orders by (o_orderdate, o_orderkey) — the
    range-exchange + per-partition-count + Arrow-stamp plan, NOT the
    single-partition window the naive ROW_NUMBER() compiles to (the
    oracle IS that window; at sf the two agree row-for-row, at 100 TB
    only one of them finishes). num_partitions pinned so the partition
    layout — which the id math must be independent of — is exercised
    with multiple non-empty partitions at every sf."""
    from udata_datalake_service_spark.operators.ids import dense_ids

    o = _t(spark, sf_dir, "orders")
    r = dense_ids(
        o.select("o_orderkey", "o_orderdate"),
        ["o_orderdate", "o_orderkey"],
        id_col="rid",
        num_partitions=8,
    )
    return settle(r, *adopted(r))


_SQL_DENSE_IDS = """
SELECT o_orderkey, o_orderdate,
  ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS rid
FROM orders
"""


def q_reduced_antijoin(spark, sf_dir):
    """Semi-join-reduction rewrite (operators/reduction.py): the
    incremental-ingest join shape — batch = every 7th order, corpus =
    lineitem — through BOTH reduced forms, tagged by leg. The rewrite is
    row-identical to the plain anti/semi join (exactness argued in the
    module docstring), so the oracle is the plain NOT EXISTS / EXISTS;
    what the Spark side adds is the plan: the corpus side is scanned
    once and never exchanged (pinned by test_physical_plans.py)."""
    from udata_datalake_service_spark.operators.reduction import (
        reduced_anti_join,
        reduced_semi_join,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    batch = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderdate"
    )
    corpus = li.select(F.col("l_orderkey").alias("o_orderkey"))
    anti = reduced_anti_join(batch, corpus, "o_orderkey")
    semi = reduced_semi_join(batch, corpus, "o_orderkey")
    out = anti.withColumn("leg", F.lit("anti")).unionByName(
        semi.withColumn("leg", F.lit("semi"))
    )
    return settle(out, *adopted(anti), *adopted(semi))


_SQL_REDUCED_ANTIJOIN = """
WITH batch AS (
  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 7 = 0
)
SELECT b.o_orderkey, b.o_orderdate, 'anti' AS leg FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = b.o_orderkey)
UNION ALL
SELECT b.o_orderkey, b.o_orderdate, 'semi' AS leg FROM batch b
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = b.o_orderkey)
"""


def q_mm_exif_meta(spark, sf_dir):
    """Camera-metadata plane end-to-end (llm/exif.py): executors BUILD
    EXIF-tagged JPEGs (APP1 spliced by llm/exif.build_exif_app1,
    alternating II/MM byte order, model absent every 7th file, GPS on
    the exact 1/3600-degree grid), then parse them back distributedly
    with the from-scratch TIFF walker — header-only, no pixel decode.
    Every field is a closed form of doc_id, which the oracle restates;
    the GPS doubles go through IDENTICAL integer-arcsecond arithmetic
    (deg + min/60 + sec/3600, then a tie-free round to 6) on both
    engines, so the value hash attests the full rational → decimal
    conversion."""
    from udata_datalake_service_spark.llm.multimodal import (
        exif_media_from_documents,
        extract_exif_features,
    )

    d = _t(spark, sf_dir, "documents")
    return extract_exif_features(exif_media_from_documents(d))


_SQL_MM_EXIF = """
WITH g AS (
  SELECT doc_id,
    ((doc_id % 180) - 90) * 3600 + (doc_id % 60) * 60 + (doc_id % 2) * 30
      AS lat_sec,
    (((doc_id * 3) % 360) - 180) * 3600 + ((doc_id * 7) % 60) * 60 AS lon_sec
  FROM documents WHERE doc_id % 4 = 0
)
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
  'Cam' || CAST(doc_id % 3 AS VARCHAR) AS make,
  CASE WHEN doc_id % 7 = 0 THEN NULL
       ELSE 'M-' || CAST(doc_id % 5 AS VARCHAR) END AS model,
  CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
  '2026:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' '
    || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00'
    AS datetime_original,
  CAST(16 + 8 * (doc_id % 3) AS INTEGER) AS pixel_x,
  CAST(8 + 8 * (doc_id % 2) AS INTEGER) AS pixel_y,
  CAST(100 * (1 + doc_id % 4) AS INTEGER) AS iso,
  CAST(10 + doc_id % 40 AS DOUBLE) / 10 AS f_number,
  ROUND(CASE WHEN lat_sec < 0 THEN -1 ELSE 1 END
    * (abs(lat_sec) // 3600
       + (abs(lat_sec) // 60 % 60) / 60.0
       + (abs(lat_sec) % 60) / 3600.0), 6) AS gps_lat,
  ROUND(CASE WHEN lon_sec < 0 THEN -1 ELSE 1 END
    * (abs(lon_sec) // 3600
       + (abs(lon_sec) // 60 % 60) / 60.0
       + (abs(lon_sec) % 60) / 3600.0), 6) AS gps_lon
FROM g
"""


# =========================================================================
# Round-8 operators: trained classifiers (llm/classify.py)
# =========================================================================
def q_tx_lang_id(spark, sf_dir):
    """Language identification as a TRAINED classifier (llm/classify.py):
    multinomial NB over word unigrams, fit on the corpus's own labeled
    split (doc_id % 5 != 0) and scoring the held-out fifth — the CCNet
    fastText-langid slot with a closed-form distributed fit. Fixed-point
    log scores make prediction + margin engine-exact; the oracle replays
    the entire fit and argmax."""
    from udata_datalake_service_spark.llm.classify import nb_predict, nb_train

    d = _tw(spark, sf_dir, "documents")
    # md5-keyed split (the o3 deterministic-sample device): a doc_id
    # modulus would correlate with the synthetic label layout (source is
    # literally doc_id %% 20, so a %%5 held-out set holds classes the
    # train set never saw)
    held_key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2"
    )
    train = d.filter(~held_key)
    held = d.filter(held_key)
    model, priors = nb_train(train, label="lang")
    pred = nb_predict(held, model, priors)
    truth = held.select("doc_id", F.col("lang").alias("true_lang"))
    return pred.join(truth, on="doc_id").select(
        "doc_id",
        "true_lang",
        F.col("pred").alias("pred_lang"),
        (F.col("pred") == F.col("true_lang")).alias("correct"),
        "margin_q",
    )


_SQL_NB_COMMON = f"""
tok AS (
  SELECT doc_id, {{label}} AS lbl, unnest({_SQL_TOKS}) AS t FROM documents
),
c AS (SELECT lbl AS l, t, count(*) AS n FROM tok WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2') GROUP BY 1, 2),
tot AS (SELECT l, sum(n) AS tot FROM c GROUP BY 1),
vocab AS (SELECT DISTINCT t FROM c),
vn AS (SELECT count(*) AS v FROM vocab),
model AS (
  SELECT tot.l, vocab.t,
    CAST(round(ln((coalesce(c.n, 0) + 1) / (tot.tot + vn.v)) * 1000000, 0)
         AS BIGINT) AS llh_q
  FROM tot CROSS JOIN vocab CROSS JOIN vn
  LEFT JOIN c ON c.l = tot.l AND c.t = vocab.t
),
pri AS (
  SELECT {{label}} AS l,
    CAST(round(ln(count(*) / (SELECT count(*) FROM documents
                              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2'))) * 1000000, 0)
         AS BIGINT) AS prior_q
  FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2') GROUP BY 1
),
held AS (
  SELECT doc_id, lbl, t, count(*) AS n FROM tok WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
  GROUP BY 1, 2, 3
),
sc AS (
  SELECT h.doc_id, h.lbl, m.l, pri.prior_q + sum(h.n * m.llh_q) AS score_q
  FROM held h JOIN model m USING (t) JOIN pri ON pri.l = m.l
  GROUP BY h.doc_id, h.lbl, m.l, pri.prior_q
),
rk AS (
  SELECT doc_id, lbl, l, score_q,
    row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, l) AS rn,
    score_q - lead(score_q) OVER (PARTITION BY doc_id
                                  ORDER BY score_q DESC, l) AS gap
  FROM sc
)
"""

_SQL_TX_LANG_ID = f"""
WITH {_SQL_NB_COMMON.format(label="lang")}
SELECT doc_id, lbl AS true_lang, l AS pred_lang, l = lbl AS correct,
  CAST(coalesce(gap, 0) AS BIGINT) AS margin_q
FROM rk WHERE rn = 1
"""


def q_nb_source_classifier(spark, sf_dir):
    """The quality/domain-classifier slot at 20-class cardinality: the
    same NB operator fit on `source` labels, reported as the per-class
    scorecard a routing pipeline reads (n docs, n correct, accuracy) —
    attesting the aggregate shape on top of the per-doc argmax."""
    from udata_datalake_service_spark.llm.classify import nb_predict, nb_train

    d = _tw(spark, sf_dir, "documents")
    held_key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2"
    )
    train = d.filter(~held_key)
    held = d.filter(held_key)
    model, priors = nb_train(train, label="source")
    pred = nb_predict(held, model, priors)
    truth = held.select("doc_id", F.col("source").alias("true_source"))
    return (
        pred.join(truth, on="doc_id")
        .groupBy(F.col("true_source").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("pred") == F.col("true_source")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            "source",
            "n_docs",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_docs"), 6).alias("accuracy"),
        )
    )


_SQL_NB_SOURCE = f"""
WITH {_SQL_NB_COMMON.format(label="source")}
SELECT lbl AS source, count(*) AS n_docs,
  CAST(sum(CASE WHEN l = lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  round(sum(CASE WHEN l = lbl THEN 1 ELSE 0 END) / count(*), 6) AS accuracy
FROM rk WHERE rn = 1
GROUP BY lbl
"""


# =========================================================================
# Round-8 operators: product-quantized ANN (llm/similarity.py PQ section)
# =========================================================================
def q_ann_pq_topk(spark, sf_dir):
    """PQ-compressed ANN: sign-partitioned product quantization (16
    subspaces x 4 dims), asymmetric-distance scoring off a broadcast
    query x codebook distance table — the corpus scan only LOOKS UP its
    m codes and integer-sums, never computes a full-dimension dot per
    pair — then an exact cosine re-rank of the k survivors. The whole
    pipeline (codes, fixed-point codeword means, ADC sums, both
    cosines) is replayed by the oracle."""
    from udata_datalake_service_spark.llm.similarity import pq_adc_topk

    e = _tw(spark, sf_dir, "embeddings")
    return pq_adc_topk(e, e.filter(F.col("vec_id") < 5), k=10, m=16, dim=64)


_SQL_ANN_PQ = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
codes AS (
  SELECT e.vec_id, s.sub,
    array_to_string(list_transform(list_slice(e.v, s.sub * 4 + 1, s.sub * 4 + 4),
      x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS code,
    list_slice(e.v, s.sub * 4 + 1, s.sub * 4 + 4) AS sv
  FROM e CROSS JOIN (SELECT unnest(range(0, 16)) AS sub) s
),
comp AS (
  SELECT sub, code, u.pos AS pos, CAST(round(u.x * 1000000, 0) AS BIGINT) AS xq
  FROM (SELECT sub, code,
          unnest(list_transform(range(1, len(sv) + 1),
            i -> struct_pack(pos := i, x := sv[i]))) AS u
        FROM codes)
),
g AS (SELECT sub, code, pos, sum(xq) AS sm, count(*) AS n FROM comp GROUP BY 1, 2, 3),
cb AS (SELECT sub, code, list(sm / (n * 1000000.0) ORDER BY pos) AS cw
       FROM g GROUP BY 1, 2),
q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn
      FROM e WHERE vec_id < 5),
dt AS (
  SELECT q.query_id, q.qn, cb.sub, cb.code,
    CAST(round(list_dot_product(
      list_slice(q.qv, cb.sub * 4 + 1, cb.sub * 4 + 4), cb.cw)
      * 1000000000, 0) AS BIGINT) AS part_q,
    CAST(round(list_dot_product(cb.cw, cb.cw) * 1000000000, 0) AS BIGINT)
      AS cw_sq_q
  FROM q CROSS JOIN cb
),
scored AS (
  SELECT dt.query_id, c.vec_id AS neighbor_id, dt.qn,
    sum(dt.part_q) AS adc_q, sum(dt.cw_sq_q) AS vn2_q
  FROM codes c JOIN dt ON dt.sub = c.sub AND dt.code = c.code
  GROUP BY 1, 2, 3
),
ac AS (
  SELECT query_id, neighbor_id,
    round(CASE WHEN qn > 0 AND vn2_q > 0
      THEN (adc_q / 1000000000.0) / (qn * sqrt(vn2_q / 1000000000.0))
      ELSE 0.0 END, 6) AS adc_cos
  FROM scored WHERE query_id <> neighbor_id
),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_cos DESC, neighbor_id ASC) AS arnk
  FROM ac
),
ex AS (
  SELECT cand.query_id, cand.neighbor_id, cand.adc_cos,
    round(CASE WHEN qx.qn > 0 AND list_dot_product(ev.v, ev.v) > 0
      THEN list_dot_product(qx.qv, ev.v)
           / (qx.qn * sqrt(list_dot_product(ev.v, ev.v)))
      ELSE 0.0 END, 6) AS cos
  FROM cand
  JOIN e ev ON ev.vec_id = cand.neighbor_id
  JOIN q qx ON qx.query_id = cand.query_id
  WHERE cand.arnk <= 40
)
SELECT query_id, neighbor_id, rnk, adc_cos, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM ex
) WHERE rnk <= 10
"""


# =========================================================================
# Round-9: IVF x PQ composition (llm/similarity.ivf_pq_topk)
# =========================================================================
def q_ann_ivfpq_topk(spark, sf_dir):
    """IVFADC — the production 100 TB ANN shape: per query only
    num_probes of num_lists inverted lists are read (sublinear candidate
    set) and the candidates are scored by ADC over PQ codes (compressed
    vectors; no full-dimension dot until the exact re-rank of k*rerank
    survivors). Centroids are the first num_lists corpus vectors —
    deterministic, so the oracle replays assignment, probing, the
    candidate join, the fixed-point ADC sums, and both cosines.
    Measured recall@10 vs brute force: 0.92 (sf0.001) / 0.96 (sf0.01),
    pinned in tests/test_llm.py."""
    from udata_datalake_service_spark.llm.similarity import ivf_pq_topk

    e = _tw(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        e,
        e.filter(F.col("vec_id") < 5),
        k=10,
        num_lists=16,
        num_probes=8,
        m=16,
        dim=64,
        rerank=8,
    )


_SQL_ANN_IVFPQ = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS list_id, v AS centv FROM e ORDER BY vec_id LIMIT 16),
asg AS (
  SELECT vec_id AS neighbor_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, c.centv) /
          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centv, c.centv))), 6)
        DESC, c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, c.centv) /
          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centv, c.centv))), 6)
        DESC, c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c WHERE e.vec_id < 5)
  WHERE rn <= 8
),
cand AS (
  SELECT p.query_id, a.neighbor_id FROM probes p JOIN asg a USING (list_id)
),
codes AS (
  SELECT e.vec_id, s.sub,
    array_to_string(list_transform(list_slice(e.v, s.sub * 4 + 1, s.sub * 4 + 4),
      x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS code,
    list_slice(e.v, s.sub * 4 + 1, s.sub * 4 + 4) AS sv
  FROM e CROSS JOIN (SELECT unnest(range(0, 16)) AS sub) s
),
comp AS (
  SELECT sub, code, u.pos AS pos, CAST(round(u.x * 1000000, 0) AS BIGINT) AS xq
  FROM (SELECT sub, code,
          unnest(list_transform(range(1, len(sv) + 1),
            i -> struct_pack(pos := i, x := sv[i]))) AS u
        FROM codes)
),
g AS (SELECT sub, code, pos, sum(xq) AS sm, count(*) AS n FROM comp GROUP BY 1, 2, 3),
cb AS (SELECT sub, code, list(sm / (n * 1000000.0) ORDER BY pos) AS cw
       FROM g GROUP BY 1, 2),
q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn
      FROM e WHERE vec_id < 5),
dt AS (
  SELECT q.query_id, q.qn, cb.sub, cb.code,
    CAST(round(list_dot_product(
      list_slice(q.qv, cb.sub * 4 + 1, cb.sub * 4 + 4), cb.cw)
      * 1000000000, 0) AS BIGINT) AS part_q,
    CAST(round(list_dot_product(cb.cw, cb.cw) * 1000000000, 0) AS BIGINT)
      AS cw_sq_q
  FROM q CROSS JOIN cb
),
scored AS (
  SELECT dt.query_id, c.vec_id AS neighbor_id, dt.qn,
    sum(dt.part_q) AS adc_q, sum(dt.cw_sq_q) AS vn2_q
  FROM codes c
  JOIN cand ON cand.neighbor_id = c.vec_id
  JOIN dt ON dt.query_id = cand.query_id AND dt.sub = c.sub AND dt.code = c.code
  GROUP BY 1, 2, 3
),
ac AS (
  SELECT query_id, neighbor_id,
    round(CASE WHEN qn > 0 AND vn2_q > 0
      THEN (adc_q / 1000000000.0) / (qn * sqrt(vn2_q / 1000000000.0))
      ELSE 0.0 END, 6) AS adc_cos
  FROM scored WHERE query_id <> neighbor_id
),
candk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_cos DESC, neighbor_id ASC) AS arnk
  FROM ac
),
ex AS (
  SELECT candk.query_id, candk.neighbor_id, candk.adc_cos,
    round(CASE WHEN qx.qn > 0 AND list_dot_product(ev.v, ev.v) > 0
      THEN list_dot_product(qx.qv, ev.v)
           / (qx.qn * sqrt(list_dot_product(ev.v, ev.v)))
      ELSE 0.0 END, 6) AS cos
  FROM candk
  JOIN e ev ON ev.vec_id = candk.neighbor_id
  JOIN q qx ON qx.query_id = candk.query_id
  WHERE candk.arnk <= 80
)
SELECT query_id, neighbor_id, rnk, adc_cos, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM ex
) WHERE rnk <= 10
"""


def q_ann_ivfpq_trained(spark, sf_dir):
    """IVFADC with TRAINED centroids — the production composition
    (VERDICT r10 task 4): one Lloyd round from the deterministic
    first-K init (assign every vector to its nearest seed, recompute
    the 16 list centroids with `label_centroids`' fixed-point
    integer-sum device), then the trained codebook flows through
    `ivf_pq_topk(centroids=)` — the externally-supplied-centroid path
    the ×64 geometry probe validated (SCALE64.md §IVFADC-GEOMETRY:
    at num_lists≈√N first-K centroids collapse to recall ~0.1 while
    trained centroids hold 1.0 at the same candidate fraction).
    Measured on this fixture: recall@10 = 0.90 at num_probes=4 —
    the first-K leg (`ann_ivfpq_topk`) needs num_probes=8 for 0.92,
    so training buys the same recall at HALF the probed lists.
    Every step is engine-portable (round-6 cosine, label-asc ties,
    1e-6 fixed-point centroid components), so the oracle replays
    centroid training, assignment, probing, the candidate join, the
    fixed-point ADC sums, and both cosines value-for-value — the
    green CORRECTNESS entry covering ivf_pq_topk with non-default
    centroids."""
    from udata_datalake_service_spark.llm.similarity import (
        assign_nearest_centroid,
        ivf_pq_topk,
        label_centroids,
    )

    e = _tw(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents0 = (
        e.orderBy("vec_id")
        .limit(16)
        .select(
            F.col("vec_id").alias("label"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    asg = assign_nearest_centroid(e, cents0, label_col="label")
    trained = label_centroids(
        e.join(
            asg.select("vec_id", F.col("assigned_label").alias("label")),
            on="vec_id",
        ).select("embedding", "label")
    ).select("label", "centroid")
    return ivf_pq_topk(
        e,
        e.filter(F.col("vec_id") < 5),
        k=10,
        num_lists=16,
        num_probes=4,
        m=16,
        dim=64,
        rerank=8,
        centroids=trained,
    )


_SQL_ANN_IVFPQ_TRAINED = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents0 AS (SELECT vec_id AS label, v AS centv FROM e ORDER BY vec_id LIMIT 16),
asg0 AS (
  SELECT vec_id, label FROM (
    SELECT e.vec_id, c.label,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, c.centv) /
          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centv, c.centv))), 6)
        DESC, c.label ASC) AS rn
    FROM e CROSS JOIN cents0 c)
  WHERE rn = 1
),
lex AS (
  SELECT a.label, u.pos AS pos, CAST(round(u.x * 1000000, 0) AS BIGINT) AS q
  FROM (SELECT asg0.label,
          unnest(list_transform(range(1, len(e.v) + 1),
            i -> struct_pack(pos := i, x := e.v[i]))) AS u
        FROM e JOIN asg0 ON asg0.vec_id = e.vec_id) a(label, u)
),
lg AS (SELECT label, pos, sum(q) AS s, count(*) AS n FROM lex GROUP BY 1, 2),
cents AS (SELECT label AS list_id, list(s / (n * 1000000.0) ORDER BY pos) AS centv
          FROM lg GROUP BY 1),
asg AS (
  SELECT vec_id AS neighbor_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, c.centv) /
          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centv, c.centv))), 6)
        DESC, c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, c.centv) /
          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centv, c.centv))), 6)
        DESC, c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c WHERE e.vec_id < 5)
  WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.neighbor_id FROM probes p JOIN asg a USING (list_id)
),
codes AS (
  SELECT e.vec_id, s.sub,
    array_to_string(list_transform(list_slice(e.v, s.sub * 4 + 1, s.sub * 4 + 4),
      x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS code,
    list_slice(e.v, s.sub * 4 + 1, s.sub * 4 + 4) AS sv
  FROM e CROSS JOIN (SELECT unnest(range(0, 16)) AS sub) s
),
comp AS (
  SELECT sub, code, u.pos AS pos, CAST(round(u.x * 1000000, 0) AS BIGINT) AS xq
  FROM (SELECT sub, code,
          unnest(list_transform(range(1, len(sv) + 1),
            i -> struct_pack(pos := i, x := sv[i]))) AS u
        FROM codes)
),
g AS (SELECT sub, code, pos, sum(xq) AS sm, count(*) AS n FROM comp GROUP BY 1, 2, 3),
cb AS (SELECT sub, code, list(sm / (n * 1000000.0) ORDER BY pos) AS cw
       FROM g GROUP BY 1, 2),
q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn
      FROM e WHERE vec_id < 5),
dt AS (
  SELECT q.query_id, q.qn, cb.sub, cb.code,
    CAST(round(list_dot_product(
      list_slice(q.qv, cb.sub * 4 + 1, cb.sub * 4 + 4), cb.cw)
      * 1000000000, 0) AS BIGINT) AS part_q,
    CAST(round(list_dot_product(cb.cw, cb.cw) * 1000000000, 0) AS BIGINT)
      AS cw_sq_q
  FROM q CROSS JOIN cb
),
scored AS (
  SELECT dt.query_id, c.vec_id AS neighbor_id, dt.qn,
    sum(dt.part_q) AS adc_q, sum(dt.cw_sq_q) AS vn2_q
  FROM codes c
  JOIN cand ON cand.neighbor_id = c.vec_id
  JOIN dt ON dt.query_id = cand.query_id AND dt.sub = c.sub AND dt.code = c.code
  GROUP BY 1, 2, 3
),
ac AS (
  SELECT query_id, neighbor_id,
    round(CASE WHEN qn > 0 AND vn2_q > 0
      THEN (adc_q / 1000000000.0) / (qn * sqrt(vn2_q / 1000000000.0))
      ELSE 0.0 END, 6) AS adc_cos
  FROM scored WHERE query_id <> neighbor_id
),
candk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_cos DESC, neighbor_id ASC) AS arnk
  FROM ac
),
ex AS (
  SELECT candk.query_id, candk.neighbor_id, candk.adc_cos,
    round(CASE WHEN qx.qn > 0 AND list_dot_product(ev.v, ev.v) > 0
      THEN list_dot_product(qx.qv, ev.v)
           / (qx.qn * sqrt(list_dot_product(ev.v, ev.v)))
      ELSE 0.0 END, 6) AS cos
  FROM candk
  JOIN e ev ON ev.vec_id = candk.neighbor_id
  JOIN q qx ON qx.query_id = candk.query_id
  WHERE candk.arnk <= 80
)
SELECT query_id, neighbor_id, rnk, adc_cos, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM ex
) WHERE rnk <= 10
"""


# =========================================================================
# Round-8 operators: count-min sketch (operators/sketch.py)
# =========================================================================
def q_sk_countmin_hh(spark, sf_dir):
    """Heavy hitters through a count-min sketch, MERGE path included:
    two per-shard sketches (doc_id parity) are built independently and
    merged — the roll-up property that makes per-day sketches composable
    at 100 TB — then the exact top-20 tokens are point-queried against
    the merged sketch. Width 16 is deliberately undersized for the
    fixture vocabulary so collisions are REAL and the one-sided error
    (est >= exact, always) is visible data the oracle re-derives
    bit-for-bit (the md5 hash family is engine-portable)."""
    from udata_datalake_service_spark.llm.text import tokens
    from udata_datalake_service_spark.operators.sketch import (
        countmin_build,
        countmin_estimate,
        countmin_merge,
    )

    d = _tw(spark, sf_dir, "documents")
    tok = d.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("t"))
    # r13 opt (guide §2.3, one corpus pass): collapse the token stream to
    # the (shard, token) count grain FIRST — the two per-shard sketches
    # are then WEIGHTED builds over the vocab-grain frame
    # (Σ_t count(t)·[bucket(t)=b] ≡ the per-occurrence count, exact
    # integer equality) and the exact top-20 is a re-aggregate of the
    # same grain. Before: the sketch legs and the exact leg each re-ran
    # the corpus tokenize (and the union-shaped build multiplied that by
    # depth). No persist: the three consumers share the canonically
    # identical (even, t) aggregate subtree, which AQE stage reuse
    # materializes once (measured — see OPTIMIZATION_r13.md retrieval
    # section for the persist-vs-stage-cache lesson). The merge path
    # stays real: the shards are still built independently and merged.
    per_shard = tok.groupBy((F.col("doc_id") % 2 == 0).alias("even"), "t").agg(
        F.count(F.lit(1)).alias("n")
    )
    sk = countmin_merge(
        countmin_build(per_shard.filter(F.col("even")), "t", 4, 16, weight="n"),
        countmin_build(per_shard.filter(~F.col("even")), "t", 4, 16, weight="n"),
    )
    exact = per_shard.groupBy("t").agg(F.sum("n").alias("exact"))
    top = exact.orderBy(F.desc("exact"), F.asc("t")).limit(20)
    est = countmin_estimate(sk, top.select("t"), "t", 4, 16)
    return top.join(est, on="t").select(
        F.col("t").alias("token"),
        "exact",
        "est",
        (F.col("est") - F.col("exact")).alias("overcount"),
    )


_SQL_SK_COUNTMIN = f"""
WITH tok AS (SELECT unnest({_SQL_TOKS}) AS t FROM documents),
rowsrc AS (SELECT unnest(range(0, 4)) AS row),
sk AS (
  SELECT rowsrc.row,
    CAST(('0x' || substr(md5(CAST(rowsrc.row AS VARCHAR) || ':' || t), 1, 15))
         ::UBIGINT % 16 AS INT) AS bucket,
    count(*) AS c
  FROM tok CROSS JOIN rowsrc GROUP BY 1, 2
),
exact AS (SELECT t, count(*) AS exact FROM tok GROUP BY 1),
top AS (SELECT t, exact FROM exact ORDER BY exact DESC, t LIMIT 20),
coords AS (
  SELECT top.t, rowsrc.row,
    CAST(('0x' || substr(md5(CAST(rowsrc.row AS VARCHAR) || ':' || top.t), 1, 15))
         ::UBIGINT % 16 AS INT) AS bucket
  FROM top CROSS JOIN rowsrc
),
est AS (
  SELECT coords.t, min(coalesce(sk.c, 0)) AS est
  FROM coords LEFT JOIN sk ON sk.row = coords.row AND sk.bucket = coords.bucket
  GROUP BY 1
)
SELECT top.t AS token, top.exact, est.est, est.est - top.exact AS overcount
FROM top JOIN est ON est.t = top.t
"""


# =========================================================================
# Round-9 operators: columnar BPE tokenizer application (llm/bpe.py)
# =========================================================================
# The frozen tokenizer: 24 merges trained ONCE with llm.bpe.bpe_train on
# the sf0.01 documents fixture and checked in — a tokenizer is a model
# artifact, trained at one scale and applied at every other. Both the
# Spark query and the DuckDB oracle below are generated from THIS list,
# so the two replace chains cannot drift.
TOK_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
]


def q_tok_bpe_encode(spark, sf_dir):
    """Tokenizer application as a PURE-JVM map: apply the frozen
    24-merge BPE table to every document with bpe_encode_columnar (the
    merge loop compiled to a per-token literal-replace chain — zero
    Python, zero shuffle until the vocabulary-grain count), then attest
    the corpus piece-frequency table (top 100 by count). Any deviation
    in any merge on any token anywhere in the corpus changes piece
    identities and lands in this table, so the oracle — the IDENTICAL
    replace chain generated from the same constant, replayed in ANSI
    SQL — attests the encode bit-for-bit at corpus scale. Equality with
    the Arrow-batched bpe_encode path is separately pinned by test for
    arbitrary runtime-trained tables."""
    from udata_datalake_service_spark.llm.bpe import bpe_encode_columnar

    d = _tw(spark, sf_dir, "documents")
    enc = bpe_encode_columnar(d, TOK_BPE_MERGES)
    pieces = enc.select(F.explode("pieces").alias("piece"))
    cnt = pieces.groupBy("piece").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("piece"))
    return (
        cnt.select(
            "piece",
            F.length("piece").alias("piece_len"),
            "cnt",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 100)
    )


def _sql_tok_bpe_encode() -> str:
    s = "'|' || regexp_replace(w, '(.)', '\\1||', 'g') || '</w>|'"
    for left, right in TOK_BPE_MERGES:
        s = f"replace({s}, '|{left}||{right}|', '|{left}{right}|')"
    return f"""
WITH toks AS (SELECT unnest({_SQL_TOKS}) AS w FROM documents),
enc AS (SELECT {s} AS s FROM toks),
pieces AS (SELECT unnest(string_split(trim(s, '|'), '||')) AS piece FROM enc),
cnt AS (SELECT piece, count(*) AS cnt FROM pieces GROUP BY 1)
SELECT piece, length(piece) AS piece_len, cnt,
       row_number() OVER (ORDER BY cnt DESC, piece) AS rank
FROM cnt
QUALIFY rank <= 100
"""


_SQL_TOK_BPE = _sql_tok_bpe_encode()


# =========================================================================
# Round-9 operators: KMV distinct sketch (operators/sketch.py)
# =========================================================================
_KMV_K = 64


def q_sk_kmv_ndv(spark, sf_dir):
    """Mergeable distinct-count sketch with an oracle that attests the
    SKETCH, not just its shape: two per-shard KMV sketches (linenumber
    parity) over lineitem order keys are built independently, merged
    (min-k of unioned min-k sets = min-k of the union), and estimated
    per l_returnflag — output carries the exact NDV, the sketch size,
    the literal kth-minimum hash (the sketch's identity), the estimate,
    and its relative error, every value re-derived bit-for-bit by the
    DuckDB replay of the same md5 order statistics. k=64 against ~12k
    true NDV per group makes the ~1/sqrt(k) error REAL, visible data.
    The 100 TB story is the merge axis: per-day sketches are k rows per
    group forever, rolled up without touching raw data — where exact
    NDV re-shuffles history every day."""
    from udata_datalake_service_spark.operators.sketch import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    li = _t(spark, sf_dir, "lineitem")
    g = ["l_returnflag"]
    sk = kmv_merge(
        kmv_build(li.filter(F.col("l_linenumber") % 2 == 0), "l_orderkey", g, _KMV_K),
        kmv_build(li.filter(F.col("l_linenumber") % 2 == 1), "l_orderkey", g, _KMV_K),
        group_cols=g,
        k=_KMV_K,
    )
    est = kmv_estimate(sk, g, _KMV_K)
    exact = li.groupBy(*g).agg(F.countDistinct("l_orderkey").alias("ndv_exact"))
    return exact.join(est, on=g).select(
        "l_returnflag",
        "ndv_exact",
        "sketch_n",
        "kth_h",
        F.round("ndv_est", 2).alias("ndv_est"),
        F.round(
            F.abs(F.col("ndv_est") - F.col("ndv_exact")) / F.col("ndv_exact"), 4
        ).alias("rel_err"),
    )


_SQL_SK_KMV = f"""
WITH d AS (
  SELECT DISTINCT l_returnflag,
    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h
  FROM lineitem
),
sk AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM d QUALIFY rn <= {_KMV_K}
),
est AS (
  SELECT l_returnflag, count(*) AS sketch_n,
    max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_h,
    CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS DOUBLE)
         ELSE {float(_KMV_K - 1) * 2.0**60!r} / CAST(max(CASE WHEN rn = {_KMV_K} THEN h END) AS DOUBLE)
    END AS ndv_est
  FROM sk GROUP BY 1
),
exact AS (
  SELECT l_returnflag, count(DISTINCT l_orderkey) AS ndv_exact FROM lineitem GROUP BY 1
)
SELECT exact.l_returnflag, exact.ndv_exact, est.sketch_n, est.kth_h,
       round(est.ndv_est, 2) AS ndv_est,
       round(abs(est.ndv_est - exact.ndv_exact) / exact.ndv_exact, 4) AS rel_err
FROM exact JOIN est ON est.l_returnflag = exact.l_returnflag
"""


# =========================================================================
# Round-10: sketch-plane lake rollup (VERDICT r9 #6)
# =========================================================================
def q_sk_lake_rollup(spark, sf_dir):
    """The actual 100 TB sketch pattern, end-to-end THROUGH the lake:
    per-day KMV sketch TABLES are persisted with
    ``append_app_table_exactly_once`` (each day a tagged batch; one
    append is deliberately RETRIED and must no-op), then the corpus NDV
    is answered from the LAKE ALONE — read the sketch table back, merge
    across days, estimate — without ever rescanning raw data. The
    KMV hash-for-hash law makes this attestable: the oracle recomputes
    the day sketches from raw lineitem in ANSI SQL, merges them, and
    checks the lake-merged sketch equals a whole-data build (same
    sketch_n, same kth hash, same hash checksum). ``lake_rows`` counts
    the persisted sketch rows — a double-committed retry would double it
    and hash-mismatch, so exactly-once is attested by value, not by
    flag. Days = year(l_shipdate) % 2 (two time partitions); group =
    l_returnflag; k rows per group per day however large the day gets."""
    import hashlib
    import shutil

    from udata_datalake_service_spark.operators.sketch import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )
    from udata_datalake_service_spark.sinks.lake import Lake

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "day", (F.year("l_shipdate") % 2).cast("int")
    )
    g = ["l_returnflag"]
    root = f"/tmp/spark_hydra_skroll_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    shutil.rmtree(root, ignore_errors=True)
    lake = Lake(spark, root)
    # r13 opt (guide §2.3 one pass): ONE lineitem scan builds both day
    # sketches — kmv_build grouped by (group ∪ day) then filtered to a day
    # is row-identical to building on the day-filtered input (the rank
    # partitions are the same (flag, day) sets either way; distinct over
    # (flag, day, h) restricted to a day ≡ per-day distinct). The persist
    # only spans the two appends; the returned frame reads the LAKE.
    sk_all = kmv_build(li, "l_orderkey", [*g, "day"], _KMV_K).persist()
    commits = []
    for day in (0, 1):
        sk_day = sk_all.filter(F.col("day") == day).select(*g, "h", "rn", "day")
        commits.append(
            lake.append_app_table_exactly_once(sk_day, "kmv_daily", f"day-{day}")
        )
    sk_all.unpersist()
    # crash-retry rehearsal: re-submitting an already-committed batch id
    # must be a no-op (False), leaving the persisted row count unchanged
    retry_committed = lake.append_app_table_exactly_once(
        kmv_build(li.filter(F.col("day") == 0), "l_orderkey", g, _KMV_K).withColumn(
            "day", F.lit(0)
        ),
        "kmv_daily",
        "day-0",
    )
    daily = lake.read_app_table("kmv_daily")
    merged = kmv_merge(
        daily.filter(F.col("day") == 0),
        daily.filter(F.col("day") == 1),
        group_cols=g,
        k=_KMV_K,
    )
    whole = kmv_build(li, "l_orderkey", g, _KMV_K)
    _hsum = F.sum(F.col("h") % F.lit(1000000007)).cast("long").alias
    m = merged.groupBy(*g).agg(
        F.count(F.lit(1)).alias("sketch_n"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_h"),
        _hsum("hsum"),
    )
    wh = whole.groupBy(*g).agg(
        F.count(F.lit(1)).alias("w_n"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("whole_kth_h"),
        _hsum("w_hsum"),
    )
    lake_rows = daily.groupBy(*g).agg(F.count(F.lit(1)).alias("lake_rows"))
    est = kmv_estimate(merged, g, _KMV_K).select(*g, "ndv_est")
    return (
        m.join(wh, on=g)
        .join(lake_rows, on=g)
        .join(est, on=g)
        .select(
            "l_returnflag",
            "lake_rows",
            "sketch_n",
            "kth_h",
            F.round("ndv_est", 2).alias("ndv_est"),
            "whole_kth_h",
            (
                (F.col("sketch_n") == F.col("w_n"))
                & (F.col("kth_h") == F.col("whole_kth_h"))
                & (F.col("hsum") == F.col("w_hsum"))
            ).alias("merged_eq_whole"),
            F.lit(bool(commits[0] and commits[1])).alias("first_commits_applied"),
            F.lit(bool(not retry_committed)).alias("retry_was_noop"),
        )
    )


_SQL_SK_LAKE_ROLLUP = f"""
WITH d AS (
  SELECT DISTINCT l_returnflag, (CAST(year(l_shipdate) AS INT) % 2) AS day,
    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h
  FROM lineitem
),
sk AS (
  SELECT l_returnflag, day, h,
         row_number() OVER (PARTITION BY l_returnflag, day ORDER BY h) AS rn
  FROM d QUALIFY rn <= {_KMV_K}
),
lake_rows AS (
  SELECT l_returnflag, count(*) AS lake_rows FROM sk GROUP BY 1
),
m AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM (SELECT DISTINCT l_returnflag, h FROM sk) QUALIFY rn <= {_KMV_K}
),
ma AS (
  SELECT l_returnflag, count(*) AS sketch_n,
    max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_h,
    CAST(sum(h % 1000000007) AS BIGINT) AS hsum,
    CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS DOUBLE)
         ELSE {float(_KMV_K - 1) * 2.0**60!r} / CAST(max(CASE WHEN rn = {_KMV_K} THEN h END) AS DOUBLE)
    END AS ndv_est
  FROM m GROUP BY 1
),
w AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM (SELECT DISTINCT l_returnflag, h FROM d) QUALIFY rn <= {_KMV_K}
),
wa AS (
  SELECT l_returnflag, count(*) AS w_n,
    max(CASE WHEN rn = {_KMV_K} THEN h END) AS whole_kth_h,
    CAST(sum(h % 1000000007) AS BIGINT) AS w_hsum
  FROM w GROUP BY 1
)
SELECT ma.l_returnflag, lake_rows.lake_rows, ma.sketch_n, ma.kth_h,
       round(ma.ndv_est, 2) AS ndv_est, wa.whole_kth_h,
       (ma.sketch_n = wa.w_n AND ma.kth_h = wa.whole_kth_h
        AND ma.hsum = wa.w_hsum) AS merged_eq_whole,
       TRUE AS first_commits_applied,
       TRUE AS retry_was_noop
FROM ma
JOIN wa ON wa.l_returnflag = ma.l_returnflag
JOIN lake_rows ON lake_rows.l_returnflag = ma.l_returnflag
"""


# =========================================================================
# Round-9 operators: bloom filter (operators/sketch.py)
# =========================================================================
def q_sk_bloom_probe(spark, sf_dir):
    """Bloom-filter membership prefilter, MERGE path included: two
    per-shard filters (partkey parity) are built independently and
    union-merged — the roll-up that lets per-day member sets compose at
    100 TB — then EVERY part key is probed against the broadcast set-bit
    table. Width 512 x depth 3 is deliberately undersized for the ~130
    member keys at sf0.01 so false positives are REAL, visible rows:
    the output is the survivor set (bloom_hit only) with the exact
    membership flag, and the oracle re-derives every set bit, every hit,
    and every false positive bit-for-bit from the shared md5 family.
    One-sided error is the attested law: no member row is ever missing.
    The scale story mirrors operators/reduction.py's exact semi-join
    reduction with a cardinality-bounded broadcast (<= d*w rows however
    large the member set grows)."""
    from udata_datalake_service_spark.operators.sketch import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    part = _t(spark, sf_dir, "part")
    members = part.filter(F.col("p_size") >= 48).select(F.col("p_partkey").alias("k"))
    bl = bloom_merge(
        bloom_build(members.filter(F.col("k") % 2 == 0), "k", 3, 512),
        bloom_build(members.filter(F.col("k") % 2 == 1), "k", 3, 512),
    )
    probes = part.select(
        F.col("p_partkey").alias("k"), (F.col("p_size") >= 48).alias("is_member")
    )
    hits = bloom_probe(bl, probes, "k", 3, 512)
    return (
        probes.join(hits, on="k")
        .filter(F.col("bloom_hit"))
        .select(F.col("k").alias("partkey"), "is_member")
    )


_SQL_SK_BLOOM = """
WITH members AS (SELECT p_partkey AS k FROM part WHERE p_size >= 48),
rowsrc AS (SELECT unnest(range(0, 3)) AS row),
bits AS (
  SELECT DISTINCT rowsrc.row,
    CAST(('0x' || substr(md5(CAST(rowsrc.row AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 15))
         ::UBIGINT % 512 AS INT) AS bucket
  FROM members CROSS JOIN rowsrc
),
probes AS (SELECT p_partkey AS k, p_size >= 48 AS is_member FROM part),
coords AS (
  SELECT probes.k, rowsrc.row,
    CAST(('0x' || substr(md5(CAST(rowsrc.row AS VARCHAR) || ':' || CAST(probes.k AS VARCHAR)), 1, 15))
         ::UBIGINT % 512 AS INT) AS bucket
  FROM probes CROSS JOIN rowsrc
),
hits AS (
  SELECT coords.k, bool_and(bits.row IS NOT NULL) AS bloom_hit
  FROM coords LEFT JOIN bits ON bits.row = coords.row AND bits.bucket = coords.bucket
  GROUP BY 1
)
SELECT probes.k AS partkey, probes.is_member
FROM probes JOIN hits ON hits.k = probes.k
WHERE hits.bloom_hit
"""


# =========================================================================
# Round-11 operators: retrieval plane (BM25 + hybrid RRF)
# =========================================================================
def q_rt_bm25_topk(spark, sf_dir):
    """Distributed BM25 retrieval (llm/retrieval.py): the five probe docs
    (doc_id < 5) retrieve their top-10 corpus neighbors by the Lucene
    k1/b BM25 with the always-positive idf. The posting table is the
    lake-materializable index shape (term-keyed w_fp micro-units); the
    query side is broadcast, so the corpus never reshuffles for a probe
    batch. Per-term contributions are fixed-pointed BEFORE the per-doc
    sum (tx_surprisal's device), so the cross-engine hash cannot drift
    with aggregation order. Self-matches excluded. Folded with the
    posting-list-capped leg (max_df_ratio=0.78 — the WAND-style
    stopword/skew control: terms in >78% of docs are skipped, changing
    scores only by their near-zero idf while dropping the hot lists
    that dominate probe cost)."""
    from udata_datalake_service_spark.llm.retrieval import bm25_topk

    d = _tw(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    # r13 note: sharing one persisted token pass across the two legs
    # (bm25_epoch + settle) was tried and MEASURED SLOWER (4.84 → 5.87 s
    # at sf0.1, 5 reps): the legs' postings/stats subtrees are
    # canonically identical, so AQE's runtime stage cache already
    # dedupes them; the persist only added cache-write + settle cost.
    full = bm25_topk(d, probes, k=10, exclude_self=True).select(
        F.lit("all").alias("leg"), "query_id", "doc_id", "score", "rnk"
    )
    capped = bm25_topk(
        d, probes, k=10, exclude_self=True, max_df_ratio=0.78
    ).select(F.lit("capped").alias("leg"), "query_id", "doc_id", "score", "rnk")
    return full.unionByName(capped)


# BM25 oracle: the SAME index/probe math replayed in SQL. Expression
# order mirrors llm/retrieval.bm25_index verbatim (identical IEEE op
# order keeps the doubles bit-identical); the per-(query,doc) sum runs
# over integer micro-units, so aggregation order is irrelevant.
_SQL_RT_BM25_CTES = f"""
toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
dt AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
), tf AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM dt GROUP BY doc_id, term, dl
), dfr AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs, SUM(len(t)) AS total_dl FROM toks
), idx AS (
  SELECT tf.term, tf.doc_id,
    CAST(round(
      ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
      * ((tf.tf * 2.2) /
         (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / (s.total_dl / s.n_docs)))))
      * 1000000, 0) AS BIGINT) AS w_fp
  FROM tf JOIN dfr USING (term) CROSS JOIN stats s
), qt AS (
  SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
  FROM toks WHERE doc_id < 5
), bm_scored AS (
  SELECT qt.query_id, idx.doc_id, round(SUM(idx.w_fp) / 1000000.0, 6) AS score
  FROM idx JOIN qt USING (term)
  WHERE qt.query_id <> idx.doc_id
  GROUP BY qt.query_id, idx.doc_id
), bm_ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM bm_scored
)"""

_SQL_RT_BM25 = f"""
WITH {_SQL_RT_BM25_CTES}
SELECT query_id, doc_id, score, rnk FROM bm_ranked WHERE rnk <= 10
"""

# folded twin for rt_bm25_topk: the uncapped leg plus the max_df-capped
# leg (posting lists longer than 0.78·N skipped before weighting)
_SQL_RT_BM25_FOLDED = f"""
WITH {_SQL_RT_BM25_CTES},
idx_c AS (
  SELECT tf.term, tf.doc_id,
    CAST(round(
      ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
      * ((tf.tf * 2.2) /
         (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / (s.total_dl / s.n_docs)))))
      * 1000000, 0) AS BIGINT) AS w_fp
  FROM tf JOIN dfr USING (term) CROSS JOIN stats s
  WHERE dfr.df <= 0.78 * s.n_docs
), bm_scored_c AS (
  SELECT qt.query_id, idx_c.doc_id, round(SUM(idx_c.w_fp) / 1000000.0, 6) AS score
  FROM idx_c JOIN qt USING (term)
  WHERE qt.query_id <> idx_c.doc_id
  GROUP BY qt.query_id, idx_c.doc_id
), bm_ranked_c AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM bm_scored_c
)
SELECT 'all' AS leg, query_id, doc_id, score, rnk FROM bm_ranked WHERE rnk <= 10
UNION ALL
SELECT 'capped', query_id, doc_id, score, rnk FROM bm_ranked_c WHERE rnk <= 10
"""


def q_rt_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    the BM25 lexical leg (documents, top-20) and the exact-cosine
    embedding leg (embeddings, top-20) for the same five probes —
    score-calibration-free fusion Σ 1/(60+rank), the standard way a
    curation pipeline combines lexical and semantic retrieval (targeted
    decontamination, near-dup triage). Each leg's rank is carried
    through (null when the doc appears in one leg only) so the fusion
    is auditable; 1e6/(60+r) is an exact IEEE division of integers, so
    the fixed-point sum is engine-exact."""
    from udata_datalake_service_spark.llm.retrieval import bm25_topk, rrf_fuse
    from udata_datalake_service_spark.llm.similarity import brute_force_topk

    d = _tw(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    bm = bm25_topk(d, probes, k=20, exclude_self=True)
    e = _tw(spark, sf_dir, "embeddings")
    cos = brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=20, dim=64).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("rnk"),
    )
    return rrf_fuse({"bm25": bm, "cos": cos}, c=60, k=10)


_SQL_RT_HYBRID = f"""
WITH {_SQL_RT_BM25_CTES},
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
cos_scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
    ROUND(list_dot_product(q.v, e.v) /
      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
  FROM q JOIN e ON q.vec_id <> e.vec_id
), cos_ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rnk
  FROM cos_scored
), legs AS (
  SELECT query_id, doc_id,
    CAST(round(1000000.0 / (60 + rnk), 0) AS BIGINT) AS fp,
    rnk AS bm25_rnk, CAST(NULL AS BIGINT) AS cos_rnk
  FROM bm_ranked WHERE rnk <= 20
  UNION ALL
  SELECT query_id, doc_id,
    CAST(round(1000000.0 / (60 + rnk), 0) AS BIGINT),
    CAST(NULL AS BIGINT), rnk
  FROM cos_ranked WHERE rnk <= 20
), fused AS (
  SELECT query_id, doc_id,
    MAX(bm25_rnk) AS bm25_rnk, MAX(cos_rnk) AS cos_rnk,
    round(SUM(fp) / 1000000.0, 6) AS rrf
  FROM legs GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, bm25_rnk, cos_rnk, rrf, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rnk
  FROM fused
) WHERE rnk <= 10
"""


def _rt_decontam_frames(spark, sf_dir):
    """Lazy (result, token_cache) pair for `q_rt_decontam`: the plan-shape
    contract test needs the un-settled frame (settle's localCheckpoint
    collapses the declared plan to `Scan ExistingRDD`), and the query
    wrapper settles it. Callers of the lazy form own the token cache."""
    from udata_datalake_service_spark.llm.contamination import _exploded_ngrams
    from udata_datalake_service_spark.llm.retrieval import bm25_epoch, bm25_topk

    d = _tw(spark, sf_dir, "documents")
    evalset = d.filter(F.col("doc_id") < 5)
    corpus = d.filter(F.col("doc_id") >= 5)
    # r13 opt (guide §2.3): ONE persisted corpus tokenize feeds the BM25
    # postings, the BM25 stats AND the corpus n-gram leg (before: three
    # independent tokenize passes of the corpus in one plan).
    postings, stats, toks = bm25_epoch(corpus)
    bm = bm25_topk(
        corpus,
        evalset.select(F.col("doc_id").alias("query_id"), "text"),
        k=20,
        postings=postings,
        stats=stats,
    )
    ev_ng = _exploded_ngrams(evalset, "text", "doc_id", _CONTAM_K).withColumnRenamed(
        "doc_id", "query_id"
    )
    c_ng = _exploded_ngrams(toks, "text", "doc_id", _CONTAM_K, toks_col="__t")
    shared = (
        c_ng.join(F.broadcast(ev_ng), "ngram")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("ngram").alias("n_shared_ngrams"))
    )
    # the BM25 side is rank-bounded (≤ k·|eval items| rows) — broadcast
    # it so the pair-grain n-gram aggregate never sort-merge-shuffles
    out = shared.join(F.broadcast(bm), ["query_id", "doc_id"]).select(
        "query_id", "doc_id", "score", "rnk", "n_shared_ngrams"
    )
    return out, toks


def q_rt_decontam(spark, sf_dir):
    """Retrieval-gated decontamination triage — the two planes composed:
    for each eval item (doc_id < 5) the corpus docs that BOTH retrieve
    in its BM25 top-20 (over the eval-free corpus, so eval items never
    score each other) AND share verbatim 3-grams with it (the
    contamination plane's k-gram evidence, k=8-13 in production). This
    is the fuzzy-decontam review queue GPT-3/PaLM-style reports
    describe: the k-gram hit alone has no notion of "how close", the
    retrieval rank alone has no verbatim evidence; the intersection is
    what a human (or a drop rule) reviews. Output per (eval, doc) pair:
    BM25 score + rank and the shared-n-gram count."""
    out, toks = _rt_decontam_frames(spark, sf_dir)
    return settle(out, toks)


_SQL_RT_DECONTAM = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
dt AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks WHERE doc_id >= 5
), tf AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM dt GROUP BY doc_id, term, dl
), dfr AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs, SUM(len(t)) AS total_dl
  FROM toks WHERE doc_id >= 5
), idx AS (
  SELECT tf.term, tf.doc_id,
    CAST(round(
      ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
      * ((tf.tf * 2.2) /
         (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / (s.total_dl / s.n_docs)))))
      * 1000000, 0) AS BIGINT) AS w_fp
  FROM tf JOIN dfr USING (term) CROSS JOIN stats s
), qt AS (
  SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
  FROM toks WHERE doc_id < 5
), bm_scored AS (
  SELECT qt.query_id, idx.doc_id, round(SUM(idx.w_fp) / 1000000.0, 6) AS score
  FROM idx JOIN qt USING (term)
  GROUP BY qt.query_id, idx.doc_id
), bm_ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM bm_scored
), ev_ng AS (
  SELECT doc_id AS query_id, unnest({_sql_shingles(_CONTAM_K)}) AS ngram
  FROM toks WHERE len(t) >= {_CONTAM_K} AND doc_id < 5
), c_ng AS (
  SELECT doc_id, unnest({_sql_shingles(_CONTAM_K)}) AS ngram
  FROM toks WHERE len(t) >= {_CONTAM_K} AND doc_id >= 5
), shared AS (
  SELECT e.query_id, c.doc_id, COUNT(DISTINCT c.ngram) AS n_shared_ngrams
  FROM c_ng c JOIN ev_ng e USING (ngram)
  GROUP BY e.query_id, c.doc_id
)
SELECT b.query_id, b.doc_id, b.score, b.rnk, s.n_shared_ngrams
FROM bm_ranked b JOIN shared s
  ON b.query_id = s.query_id AND b.doc_id = s.doc_id
WHERE b.rnk <= 20
"""


def q_rt_hard_negatives(spark, sf_dir):
    """Hard-negative mining (llm/retrieval.hard_negatives): per probe,
    BM25 top-20 candidates whose 3-gram Jaccard vs the probe stays
    below 0.5 — lexically close but VERIFIED not near-duplicates, the
    negatives a contrastive embedding model learns the most from. The
    same verify-before-trusting discipline as the dedup plane, pointed
    the other way: there it keeps true dups out of the corpus, here it
    keeps accidental dups out of the negative set (training on a
    positive labeled negative poisons the objective). Candidate-bounded:
    shingles explode only for the ≤20·|probes| candidate docs."""
    from udata_datalake_service_spark.llm.retrieval import hard_negatives

    d = _tw(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    # r13 note: a shared persisted token pass for the BM25 probe was
    # tried and MEASURED 2× SLOWER (4.71 → 9.38 s at sf0.1, 5 reps) —
    # the rank-bounded bm frame is consumed several times and AQE's
    # stage cache already dedupes the identical postings subtrees; the
    # cache materialization serialized what ran concurrently before.
    return hard_negatives(d, probes, k=20, shingle_k=3, max_jaccard=0.5)


_SQL_RT_HARDNEG = f"""
WITH {_SQL_RT_BM25_CTES},
q_sh AS (
  SELECT doc_id AS query_id, unnest({_sql_shingles(3)}) AS sh
  FROM toks WHERE doc_id < 5
), q_size AS (
  SELECT query_id, COUNT(*) AS q_n FROM q_sh GROUP BY query_id
), c_sh AS (
  SELECT doc_id, unnest({_sql_shingles(3)}) AS sh FROM toks
), c_size AS (
  SELECT doc_id, COUNT(*) AS c_n FROM c_sh GROUP BY doc_id
), inter AS (
  SELECT q.query_id, c.doc_id, COUNT(*) AS inter
  FROM c_sh c JOIN q_sh q USING (sh)
  GROUP BY q.query_id, c.doc_id
)
SELECT b.query_id, b.doc_id, b.score, b.rnk,
  round(coalesce(i.inter, 0) /
        (qs.q_n + cs.c_n - coalesce(i.inter, 0)), 6) AS jac
FROM bm_ranked b
LEFT JOIN inter i ON i.query_id = b.query_id AND i.doc_id = b.doc_id
JOIN q_size qs ON qs.query_id = b.query_id
JOIN c_size cs ON cs.doc_id = b.doc_id
WHERE b.rnk <= 20
  AND round(coalesce(i.inter, 0) /
        (qs.q_n + cs.c_n - coalesce(i.inter, 0)), 6) < 0.5
"""


def q_rt_lake_bm25(spark, sf_dir):
    """Lake-backed BM25 — the 100 TB continuous-ingest retrieval pattern
    end-to-end THROUGH the lake (`sk_lake_rollup`'s sibling for the
    search plane): the corpus arrives as two epochs, each committing raw
    postings + a mergeable stats row via ``append_app_table_exactly_once``
    (one append is deliberately RETRIED and must no-op), then the probe
    is answered from the LAKE ALONE (`bm25_from_lake`) — no raw rescan,
    no index rebuild. The append law makes this attestable: the oracle
    computes whole-corpus BM25 in ANSI SQL, and a double-committed retry
    (doubled tf rows) or a dropped epoch (missing df/N/avgdl mass) would
    shift every score and hash-mismatch — exactly-once is attested by
    value, not by flag."""
    import hashlib
    import shutil

    from udata_datalake_service_spark.llm.retrieval import bm25_epoch, bm25_postings
    from udata_datalake_service_spark.sinks.lake import Lake
    from udata_datalake_service_spark.streaming.retrieval_stream import bm25_from_lake

    d = _tw(spark, sf_dir, "documents")
    root = f"/tmp/spark_hydra_rtlake_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    shutil.rmtree(root, ignore_errors=True)
    lake = Lake(spark, root)
    for ep in (0, 1):
        half = d.filter(F.col("doc_id") % 2 == ep)
        p, st, toks = bm25_epoch(half)
        try:
            lake.append_log_table_exactly_once(
                p.withColumn("batch_epoch", F.lit(ep)), "bm25_postings", f"ep-{ep}"
            )
            lake.append_app_table_exactly_once(
                st.withColumn("batch_epoch", F.lit(ep)), "bm25_stats", f"ep-{ep}"
            )
        finally:
            toks.unpersist()
    # crash-retry rehearsal: re-submitting a committed epoch must no-op —
    # if it double-committed, every df/tf doubles and the hash goes red
    lake.append_log_table_exactly_once(
        bm25_postings(d.filter(F.col("doc_id") % 2 == 0)).withColumn(
            "batch_epoch", F.lit(0)
        ),
        "bm25_postings",
        "ep-0",
    )
    probes = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_from_lake(lake, probes, k=10, exclude_self=True)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # r5 head of window: the twelve round-5 additions (corpus
    # diagnostics, URL gate, ingest, bigram LM, blocklist, mixture plan,
    # LSH scorecard, HTML extraction, DQ expectations, SCD2), the three
    # round-4 queries that had never had a driver row, the four r4
    # hash-reds (HUGEINT oracle casts), and every wrapper whose source
    # changed this round (settle edits) — all inside the first 50.
    "tx_novelty": q_tx_novelty,
    "url_quality": q_url_quality,
    "corpus_ingest": q_corpus_ingest,
    "tx_bigram_surprisal": q_tx_bigram_surprisal,
    "tx_blocklist": q_tx_blocklist,
    "mixture_plan": q_mixture_plan,
    "dd_lsh_eval": q_dd_lsh_eval,
    "html_extract": q_html_extract,
    "dq_expectations": q_dq_expectations,
    "scd2_merge": q_scd2_merge,
    "dd_paragraph_dedup": q_dd_paragraph_dedup,
    "pack_waste": q_pack_waste,
    "ann_recall": q_ann_recall,
    "curriculum": q_curriculum,
    "dd_jaccard_prefix": q_dd_jaccard_prefix,
    "flagship_pricing_summary": q_flagship_pricing_summary,
    "gopher_quality": q_gopher_quality,
    "semantic_dedup": q_semantic_dedup,
    "dsir_weights": q_dsir_weights,
    "dsir_select": q_dsir_select,
    # r5: the settle-edited dedup/curation wrappers take these four
    # unchanged r4-green entries' window slots so their new source gets a
    # driver row; the displaced four are pinned past-window.
    "tx_curate_pipeline": q_tx_curate_pipeline,
    "curate_zipf": q_curate_zipf,
    "dd_lsh_pairs": q_dd_lsh_pairs,
    "dd_dup_clusters": q_dd_dup_clusters,
    "dd_ngram_jaccard": q_dd_ngram_jaccard_both,
    "embed_standardize": q_standardize_embeddings,
    "mm_embed_vq": q_mm_embed_vq,
    "dd_span_coverage": q_dd_span_coverage,
    "a9_quantiles": q_a9_quantiles,
    "tx_chunks": q_tx_chunks,
    "domain_split": q_domain_split,
    "tx_vocab_coverage": q_tx_vocab_coverage,
    "mix_shards": q_mix_shards,
    "url_canonical": q_url_canonical,
    "funnel": q_funnel,
    "cohort": q_cohort,
    "pivot_activity": q_pivot_activity,
    "ann_centroid_assign": q_ann_centroid_assign,
    "tx_hashed_features": q_tx_hashed_features,
    "sla_streaks": q_sla_streaks,
    "variant_props": q_variant_props,
    "tx_clean": q_tx_clean,
    "tx_surprisal": q_tx_surprisal,
    "asof_join": q_asof_join,
    "sessionize": q_sessionize,
    "pack_stream": q_pack_stream,
    "contamination": q_contamination,
    "pii_redact": q_pii_redact,
    "domain_mix": q_domain_mix,
    "tfidf_vocab": q_tfidf_vocab,
    "interval_join": q_interval_join,
    "k10_time_travel": q_k10_time_travel,
    "window_surface": q_window_surface,
    "cube_rollup": q_cube_rollup,
    "a234_dashboard_aggs": q_a234_dashboard_aggs,
    "u456_point_dml": q_u456_point_dml,
    "p78_predicate_surface": q_p78_predicate_surface,
    "st45_change_trigger": q_st45_change_trigger,
    "s7_mime_sniff": q_s7_mime_sniff,
    "k9_webhook_payload": q_k9_webhook_payload,
    "skew_salted_count": q_skew_salted_count,
    "tx_text_metrics": q_tx_text_metrics,
    "tx_fingerprint": q_tx_fingerprint_both,
    "dd_simhash": q_dd_simhash,
    "ann_topk": q_ann_topk,
    "ann_near_dups_exact": q_ann_near_dups_exact,
    "mm_media_meta": q_mm_media_meta,
    "mm_frame_sample": q_mm_frame_sample,
    "s4_excel_load": q_s4_excel_load,
    "s5_catalog_load": q_s5_catalog_load,
    "s6_csv_ingest_inference": q_s6_csv_ingest_inference,
    "k_lake_roundtrip": q_k_lake_roundtrip,
    "k8_drop_table": q_k8_drop_table,
    "f3_smart_cast": q_f3_smart_cast,
    "f4_date_parse_multi": q_f4_date_parse_multi,
    "f_scalar_surface": q_f_scalar_surface_full,
    "s9_f10_http_surface": q_s9_f10_http_surface,
    "s1_live_fetch": q_s1_live_fetch,
    "st1_microbatch_rates": q_st1_microbatch_rates,
    "a1_group_topk": q_a1_group_topk_both,
    "a5_st2_backoff_table": q_a5_st2_backoff_table,
    "a8_purge_returning_count": q_a8_purge_returning_count,
    "a9_profile": q_a9_profile,
    "o4_csv_sample": q_o4_csv_sample,
    "u2_upsert_merge": q_u2_upsert_merge,
    "u3_snapshot_diff": q_u3_snapshot_diff,
    "j3_u7_batch_select_claim": q_j3_u7_batch_select_claim,
    "j5_latest_per_key": q_j5_latest_per_key,
    "j6_status_dashboard": q_j6_status_dashboard,
    # ---- round 6 ----
    "corpus_warc_ingest": q_corpus_warc_ingest,
    "dist_match_sample": q_dist_match_sample,
    "temporal_split": q_temporal_split,
    "dd_star_clusters": q_dd_star_clusters,
    "mm_jpeg_meta": q_mm_jpeg_meta,
    # ---- round 7 ----
    "dense_ids": q_dense_ids,
    "reduced_antijoin": q_reduced_antijoin,
    "mm_exif_meta": q_mm_exif_meta,
    "dd_lsh_incremental": q_dd_lsh_incremental,
    "dd_lsh_capped": q_dd_lsh_capped,
    # ---- round 8 ----
    "tx_lang_id": q_tx_lang_id,
    "nb_source_classifier": q_nb_source_classifier,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_ivfpq_trained": q_ann_ivfpq_trained,
    "sk_countmin_hh": q_sk_countmin_hh,
    # ---- round 9 ----
    "sk_bloom_probe": q_sk_bloom_probe,
    "tok_bpe_encode": q_tok_bpe_encode,
    "sk_kmv_ndv": q_sk_kmv_ndv,
    "sk_lake_rollup": q_sk_lake_rollup,
    # ---- round 11 ----
    "rt_bm25_topk": q_rt_bm25_topk,
    "rt_hybrid_rrf": q_rt_hybrid_rrf,
    "rt_lake_bm25": q_rt_lake_bm25,
    "rt_decontam": q_rt_decontam,
    "rt_hard_negatives": q_rt_hard_negatives,
    # ---- past the driver's 50-entry window: unchanged, driver-attested
    # in at least one prior round, hash-pinned by test_entry_contract.py ----
    "weighted_group_sample": q_weighted_group_sample,
    "corpus_datasheet": q_corpus_datasheet,
    "event_transitions": q_event_transitions,
    "fuzzy_linkage": q_fuzzy_linkage,
    "dd_exact_prefix_groups": q_dd_exact_prefix_groups,
    "dd_minhash_signature": q_dd_minhash_signature,
    "dd_minhash_xxh": q_dd_minhash_xxh,
    "o3_deterministic_sample": q_o3_deterministic_sample,
    "p10_retention_survivors": q_p10_retention_survivors,
    "st3_next_check_ladder": q_st3_next_check_ladder,
    "a6_max_booland": q_a6_max_booland,
    "a7_count_over_all": q_a7_count_over_all,
    "o1_top2_per_key": q_o1_top2_per_key,
    "p1_point_lookup": q_p1_point_lookup,
    "p3_exclusion_filter": q_p3_exclusion_filter,
    "p4_date_cast_filter": q_p4_date_cast_filter,
    "p5_json_extract": q_p5_json_extract,
    "p6_range_predicate": q_p6_range_predicate,
    "p9_time_window": q_p9_time_window,
    "j1_current_state_join": q_j1_current_state_join,
    "j2_history_join": q_j2_history_join,
    "j4_orphan_left_join": q_j4_orphan_left_join,
    "u1_union_tiers": q_u1_union_tiers,
    "o5_ordered_scan": q_o5_ordered_scan,
}

ORACLES: dict[str, str] = {
    "tx_novelty": _SQL_TX_NOVELTY,
    "url_quality": _SQL_URL_QUALITY,
    "corpus_ingest": _SQL_CORPUS_INGEST,
    "tx_bigram_surprisal": _SQL_TX_BIGRAM_SURPRISAL,
    "tx_blocklist": _SQL_TX_BLOCKLIST,
    "mixture_plan": _SQL_MIXTURE_PLAN,
    "dd_lsh_eval": _SQL_DD_LSH_EVAL,
    "html_extract": _SQL_HTML_EXTRACT,
    "dq_expectations": _SQL_DQ,
    "scd2_merge": _SQL_SCD2,
    "dd_paragraph_dedup": _SQL_DD_PARAGRAPH,
    "pack_waste": _SQL_PACK_WASTE,
    "flagship_pricing_summary": _SQL_FLAGSHIP,
    "gopher_quality": _SQL_GOPHER_QUALITY,
    "semantic_dedup": _SQL_SEMANTIC_DEDUP,
    "dsir_weights": _SQL_DSIR,
    "dsir_select": _SQL_DSIR_SELECT,
    "weighted_group_sample": _SQL_WEIGHTED_GROUP_SAMPLE,
    "corpus_datasheet": _SQL_CORPUS_DATASHEET,
    "event_transitions": _SQL_EVENT_TRANSITIONS,
    "fuzzy_linkage": _SQL_FUZZY_LINKAGE,
    "embed_standardize": _SQL_STANDARDIZE,
    "mm_embed_vq": _SQL_MM_EMBED_VQ,
    "dd_span_coverage": _SQL_DD_SPANS,
    "a9_quantiles": _SQL_A9Q,
    "tx_chunks": _SQL_TX_CHUNKS,
    "domain_split": _SQL_DOMAIN_SPLIT,
    "tx_vocab_coverage": _SQL_TX_VOCAB_COVERAGE,
    "mix_shards": _SQL_MIX_SHARDS,
    "url_canonical": _SQL_URL_CANON,
    "funnel": _SQL_FUNNEL,
    "cohort": _SQL_COHORT,
    "pivot_activity": _SQL_PIVOT,
    "ann_centroid_assign": _SQL_ANN_CENTROID,
    "tx_hashed_features": _SQL_TX_HASHED,
    "sla_streaks": _SQL_SLA,
    "variant_props": _SQL_VARIANT,
    "tx_clean": _SQL_TX_CLEAN,
    "tx_surprisal": _SQL_TX_SURPRISAL,
    "asof_join": _SQL_ASOF,
    "sessionize": _SQL_SESSIONS,
    "pack_stream": _SQL_PACK,
    "contamination": _SQL_CONTAM,
    "pii_redact": _SQL_PII,
    "domain_mix": _SQL_MIX,
    "tfidf_vocab": _SQL_TFIDF,
    "k10_time_travel": _SQL_K10,
    "interval_join": _SQL_INTERVAL,
    "window_surface": _SQL_WINDOW_SURFACE,
    "cube_rollup": _SQL_CUBE_ROLLUP,
    "a234_dashboard_aggs": _SQL_A234,
    "u456_point_dml": _SQL_U456,
    "p78_predicate_surface": _SQL_P78,
    "st45_change_trigger": _SQL_ST45,
    "s7_mime_sniff": _SQL_S7,
    "k9_webhook_payload": _SQL_K9,
    "skew_salted_count": _SQL_SKEW_SALTED,
    "tx_text_metrics": _SQL_TX_METRICS,
    "tx_fingerprint": _SQL_TX_FP_BOTH,
    "tx_curate_pipeline": _SQL_TX_CURATE,
    "curate_zipf": _SQL_CURATE_ZIPF,
    "dd_exact_prefix_groups": _SQL_DD_EXACT,
    "dd_minhash_signature": _SQL_DD_MINHASH,
    "dd_minhash_xxh": _SQL_DD_MINHASH_XXH,
    "dd_lsh_pairs": _SQL_DD_LSH,
    "dd_dup_clusters": _SQL_DD_CLUSTERS,
    "dd_ngram_jaccard": _SQL_DD_NGRAM_BOTH,
    "dd_simhash": _SQL_DD_SIMHASH,
    "ann_topk": _SQL_ANN_ALL,
    "ann_near_dups_exact": _SQL_ANN_NEAR,
    "mm_media_meta": _SQL_MM_MEDIA,
    "mm_frame_sample": _SQL_MM_FRAMES,
    "s4_excel_load": _SQL_S4,
    "s5_catalog_load": _SQL_S5,
    "s6_csv_ingest_inference": _SQL_INGEST_EXPECTED,
    "k_lake_roundtrip": _SQL_K_LAKE,
    "k8_drop_table": _SQL_K8,
    "f3_smart_cast": _SQL_F3,
    "f4_date_parse_multi": _SQL_F4,
    "f_scalar_surface": _SQL_FSC_FULL,
    "s9_f10_http_surface": _SQL_S9_F10,
    "s1_live_fetch": _SQL_S1_LIVE,
    "st1_microbatch_rates": _SQL_ST1_RATES,
    "a1_group_topk": _SQL_A1_BOTH,
    "a5_st2_backoff_table": _SQL_A5,
    "a8_purge_returning_count": _SQL_A8,
    "a9_profile": _SQL_A9_FULL,
    "o4_csv_sample": _SQL_O4,
    "u2_upsert_merge": _SQL_U2,
    "u3_snapshot_diff": _SQL_U3,
    "j3_u7_batch_select_claim": _SQL_J3U7,
    "j5_latest_per_key": _SQL_J5,
    "j6_status_dashboard": _SQL_J6,
    "o3_deterministic_sample": _SQL_O3,
    "p10_retention_survivors": _SQL_P10,
    "st3_next_check_ladder": _SQL_ST3,
    "a6_max_booland": _SQL_A6,
    "a7_count_over_all": _SQL_A7,
    "o1_top2_per_key": _SQL_O1,
    "p1_point_lookup": _SQL_P1,
    "p3_exclusion_filter": _SQL_P3,
    "p4_date_cast_filter": _SQL_P4,
    "p5_json_extract": _SQL_P5,
    "p6_range_predicate": _SQL_P6,
    "p9_time_window": _SQL_P9,
    "j1_current_state_join": _SQL_J1,
    "j2_history_join": _SQL_J2,
    "j4_orphan_left_join": _SQL_J4,
    "u1_union_tiers": _SQL_U1,
    "o5_ordered_scan": _SQL_O5,
    "ann_recall": _SQL_ANN_RECALL,
    "curriculum": _SQL_CURRICULUM,
    "dd_jaccard_prefix": _SQL_DD_NGRAM,
    # ---- round 6 ----
    "corpus_warc_ingest": _SQL_CORPUS_WARC_INGEST,
    "dist_match_sample": _SQL_DIST_MATCH,
    "temporal_split": _SQL_TEMPORAL_SPLIT,
    "dd_star_clusters": _SQL_DD_STAR,
    "mm_jpeg_meta": _SQL_MM_JPEG,
    "dense_ids": _SQL_DENSE_IDS,
    "reduced_antijoin": _SQL_REDUCED_ANTIJOIN,
    "mm_exif_meta": _SQL_MM_EXIF,
    "dd_lsh_incremental": _SQL_DD_LSH_INCR,
    "dd_lsh_capped": _SQL_DD_LSH_CAPPED,
    "tx_lang_id": _SQL_TX_LANG_ID,
    "nb_source_classifier": _SQL_NB_SOURCE,
    "ann_pq_topk": _SQL_ANN_PQ,
    "ann_ivfpq_topk": _SQL_ANN_IVFPQ,
    "ann_ivfpq_trained": _SQL_ANN_IVFPQ_TRAINED,
    "sk_countmin_hh": _SQL_SK_COUNTMIN,
    "sk_bloom_probe": _SQL_SK_BLOOM,
    "tok_bpe_encode": _SQL_TOK_BPE,
    "sk_kmv_ndv": _SQL_SK_KMV,
    "sk_lake_rollup": _SQL_SK_LAKE_ROLLUP,
    "rt_bm25_topk": _SQL_RT_BM25_FOLDED,
    "rt_hybrid_rrf": _SQL_RT_HYBRID,
    # same math as rt_bm25_topk's uncapped leg ON PURPOSE: the lake
    # path must reproduce the whole-corpus ranking value-for-value
    # (append law); any exactly-once violation in the epoch commits
    # breaks the hash
    "rt_lake_bm25": _SQL_RT_BM25,
    "rt_decontam": _SQL_RT_DECONTAM,
    "rt_hard_negatives": _SQL_RT_HARDNEG,
}

# Apply the structural attestation rotation (attestation.py): the driver
# reads insertion order, so rebuilding the dicts in rotation_order IS the
# window assignment for this round.
from udata_datalake_service_spark.attestation import rotation_order as _rot  # noqa: E402

_ORDER = _rot(QUERIES)
QUERIES = {name: QUERIES[name] for name in _ORDER}
ORACLES = {name: ORACLES[name] for name in _ORDER if name in ORACLES}
