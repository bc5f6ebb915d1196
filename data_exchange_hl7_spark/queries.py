"""Driver-contract query library: SURVEY.md section 2 operators on testdata.

Each query here is a (spark, sf_dir) -> DataFrame callable paired with an
ANSI-SQL oracle (ORACLES) that DuckDB runs on the same parquet files. The
pairs are value-hash compared by the driver, so every computed column is
aliased identically on both sides and float determinism is engineered:

  - money aggregates run in integer cents (exact), divided by 100.0 once at
    the end (a single deterministic IEEE op);
  - dot products fold left-to-right in both engines;
  - timestamps are emitted as explicitly formatted strings (CAST-to-string
    differs between engines).

Query -> reference-operator map is in each docstring (SURVEY.md section 2
ids).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_exchange_hl7_spark import queries_text as qt

# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col) -> F.Column:
    return F.round(col * 100).cast("bigint")


def _spread(df: DataFrame) -> DataFrame:
    """Fan a small scan out to the session's cores before CPU-dense
    expression work. The sf-scale parquet inputs arrive as ONE split (file
    << spark.sql.files.maxPartitionBytes), so every downstream narrow stage
    would otherwise run in a single task; at production scale the scan has
    file/split parallelism and this exchange moves only the small
    pre-synthesis table (a few MB), not the expanded content."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ============================ TPC-H-ish core ==============================


def q1_pricing_summary(spark, sf_dir):
    """Flagship batch agg (A3 report semantics; TPC-H Q1 shape).

    Catalyst: scan w/ filter+column pruning pushed to parquet, partial
    aggregation map-side, single shuffle on the 2 grouping keys.
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2023-09-01"))
    ep = _cents(F.col("l_extendedprice"))
    disc = _cents(F.col("l_discount"))
    tax = _cents(F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            (F.sum(ep) / 100.0).alias("sum_base_price"),
            (F.sum(ep * (10000 - disc * 100)) / 1000000.0).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
            (F.sum(disc) / 100.0).alias("sum_discount"),
            F.max(tax).alias("max_tax_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
              * (10000 - CAST(ROUND(l_discount*100) AS BIGINT) * 100)) AS BIGINT) / 1000000.0 AS sum_disc_price,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_discount,
       CAST(MAX(CAST(ROUND(l_tax*100) AS BIGINT)) AS BIGINT) AS max_tax_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2023-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """Join pipeline (J2 broadcast-dim pattern): customer x orders x lineitem."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("2024-06-01"))
    li = _t(spark, sf_dir, "lineitem")
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(20)
    )


ORACLE_Q3 = """
SELECT l_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2024-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 20
"""


def q5_region_revenue(spark, sf_dir):
    """Star join through two broadcast dims (J2/J3 lookup semantics)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg((F.sum(rev) / 10000.0).alias("revenue"), F.count("*").alias("n_items"))
        .orderBy("r_name", "n_name")
    )


ORACLE_Q5 = """
SELECT r_name, n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


# ====================== CDC / ordering / dedup (A1, A2) ===================


def cdc_latest_state(spark, sf_dir):
    """FLAGSHIP: the engine's A1 latest-flag dedup + CDC apply semantics on
    the shared `events` WAL: signup=INSERT, click/view/purchase=UPDATE,
    error=DELETE; latest op per user decides survival
    (latest_flag_and_sequencing.scala:49-151 re-planned as one window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col("event_type") != "error")  # deleted users drop out
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_CDC_LATEST = """
SELECT * FROM (
  SELECT user_id,
         event_type AS last_op,
         STRFTIME(ts, '{tsf}') AS last_ts,
         event_id AS last_event_id
  FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
WHERE last_op <> 'error'
ORDER BY user_id
""".replace("{tsf}", TS_FMT_DUCK)


def latest_flag_sequencing(spark, sf_dir):
    """A1 full output shape: every event flagged (is_latest, order_position)
    per user — no groupBy+collect_list+self-join (the reference plan that
    scales superlinearly, BASELINE.md watch-item)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("order_position", F.row_number().over(w))
        .withColumn("is_latest", F.col("order_position") == 1)
        .select("event_id", "user_id", "order_position", "is_latest")
        .orderBy("event_id")
    )


ORACLE_LATEST_FLAG = """
SELECT event_id, user_id,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS order_position,
       (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1) AS is_latest
FROM events
ORDER BY event_id
"""


def case_id_derivation(spark, sf_dir):
    """A2 case-id derivation: concat_ws('~~', ...)
    (fn_validate_hl7.scala:57-72)."""
    ev = _spread(_t(spark, sf_dir, "events"))
    return (
        ev.select(
            "event_id",
            F.concat_ws(
                "~~", F.col("user_id").cast("string"), F.col("event_type")
            ).alias("case_id"),
        )
        .orderBy("event_id")
    )


ORACLE_CASE_ID = """
SELECT event_id, CONCAT(CAST(user_id AS VARCHAR), '~~', event_type) AS case_id
FROM events ORDER BY event_id
"""


def dup_detection(spark, sf_dir):
    """A6 duplicate detection: groupBy(key).count().filter(>=2)
    (MmgValidator.kt:128 sub-id uniqueness)."""
    ev = _spread(_t(spark, sf_dir, "events"))
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .orderBy("user_id", "event_type")
    )


ORACLE_DUP = """
SELECT user_id, event_type, COUNT(*) AS n FROM events
GROUP BY user_id, event_type HAVING COUNT(*) >= 2
ORDER BY user_id, event_type
"""


# =================== reports / aggregation (A3, A4, K2) ===================


def error_summary(spark, sf_dir):
    """A3 batch error-summary: totals + conditional counts
    (ValidationController.kt:376-434)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("total_messages"),
        F.sum((F.col("event_type") != "error").cast("bigint")).alias("valid_messages"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("invalid_messages"),
    )


ORACLE_ERROR_SUMMARY = """
SELECT COUNT(*) AS total_messages,
       CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS valid_messages,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS invalid_messages
FROM events
"""


def errors_by_category(spark, sf_dir):
    """A3 by-category grouping (groupingBy{}.eachCount() analogue)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")


ORACLE_ERR_BY_CAT = (
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type"
)


def errors_by_path(spark, sf_dir):
    """A3 by-path grouping: error entries grouped by the JSON path they point
    at (ValidationController.kt:415-416 groups report entries byPath /
    byMessage with groupingBy{}.eachCount(); the path here is the T9
    json-path get over the event props)."""
    ev = _spread(_t(spark, sf_dir, "events"))
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.get_json_object("props", "$.k").alias("path"))
        .agg(F.count("*").alias("n"))
        .orderBy("path")
    )


ORACLE_ERR_BY_PATH = """
SELECT CAST(json_extract(props, '$.k') AS VARCHAR) AS path, COUNT(*) AS n
FROM events WHERE event_type = 'error'
GROUP BY 1 ORDER BY path
"""


def errors_by_message(spark, sf_dir):
    """A3 by-message grouping over the REAL report-entry pipeline
    (ValidationController.kt:415-416 groupingBy{it.message}.eachCount()):
    the synthesized NistReport frame is validated, entries explode, and
    only messages carrying at least one entry (error OR warning) appear —
    the sinks.errors_by_message operator end-to-end under the oracle."""
    from data_exchange_hl7_spark.operators import validate as V
    from data_exchange_hl7_spark.operators.sinks import errors_by_message as by_msg

    return by_msg(V.validate(_nist_frame(_spread(_t(spark, sf_dir, "events")))))


# entry census of _nist_frame, per event: missing commit (structure) +
# RENAME-without-new_path (structure) + whitespace pollution (content warn)
ORACLE_ERR_BY_MESSAGE = """
WITH e AS (
  SELECT event_id,
         (CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END)
       + (CASE WHEN event_type = 'view' AND user_id % 3 <> 0 THEN 1 ELSE 0 END)
       + (CASE WHEN event_type <> 'error' AND user_id % 5 = 0 THEN 1 ELSE 0 END)
         AS n_entries
  FROM events)
SELECT event_id, CAST(n_entries AS BIGINT) AS n_entries
FROM e WHERE n_entries > 0 ORDER BY event_id
"""


def receiver_file_report(spark, sf_dir):
    """A4 per-file receiver report: counts + error share per source file
    (ReceiverEventReport.kt:5-16)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


ORACLE_RECEIVER = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source ORDER BY source
"""


def branch_router(spark, sf_dir):
    """K2 ok/err branch counts (fn-sc-branch Function.kt:35-69)."""
    ev = _spread(_t(spark, sf_dir, "events"))
    return (
        ev.withColumn(
            "route", F.when(F.col("event_type") == "error", "ERR").otherwise("OK")
        )
        .groupBy("route")
        .agg(F.count("*").alias("n"), F.sum(_cents(F.col("value"))).alias("value_cents"))
        .orderBy("route")
    )


ORACLE_BRANCH = """
SELECT CASE WHEN event_type = 'error' THEN 'ERR' ELSE 'OK' END AS route,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1 ORDER BY route
"""


def distinct_profiles(spark, sf_dir):
    """A5 distinct values (torework_merge_hl7_to_csv.scala:19)."""
    return _t(spark, sf_dir, "documents").select("lang").distinct().orderBy("lang")


ORACLE_DISTINCT = "SELECT DISTINCT lang FROM documents ORDER BY lang"


# ======================= scalar surface (section 2.8) =====================


def scalar_functions(spark, sf_dir):
    """section 2.8 scalar surface on real rows: hash, json-path get (T9),
    date formatting, metadata coalesce (S5)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.sha2(F.col("event_type"), 256).alias("type_sha256"),
            F.md5(F.col("event_type")).alias("type_md5"),
            F.get_json_object("props", "$.k").alias("prop_k"),
            F.date_format("ts", "yyyy/MM/dd/HH").alias("date_folder"),
            F.coalesce(
                F.when(F.col("event_type") != "", F.col("event_type")), F.lit("UNKNOWN")
            ).alias("stream_id"),
        )
        .orderBy("event_id")
    )


ORACLE_SCALARS = """
SELECT event_id,
       sha256(event_type) AS type_sha256,
       md5(event_type) AS type_md5,
       CAST(json_extract(props, '$.k') AS VARCHAR) AS prop_k,
       STRFTIME(ts, '%Y/%m/%d/%H') AS date_folder,
       COALESCE(CASE WHEN event_type <> '' THEN event_type END, 'UNKNOWN') AS stream_id
FROM events ORDER BY event_id
"""


def name_normalization(spark, sf_dir):
    """StringUtils.kt:8-22 name normalization on part names."""
    from data_exchange_hl7_spark.functions.scalars import normalize_name, truncate_name

    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        truncate_name(normalize_name(F.col("p_name")), 20).alias("norm_name"),
    ).orderBy("p_partkey")


ORACLE_NAME_NORM = """
WITH n AS (
  SELECT p_partkey,
         REGEXP_REPLACE(
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(
                 REGEXP_REPLACE(LOWER(p_name), '[ \\-./]', '_', 'g'),
                 '&', '_and_', 'g'),
               '#', '_nbr', 'g'),
             '[^a-z0-9_]', '', 'g'),
           '_+', '_', 'g') AS s
  FROM part)
SELECT p_partkey,
       CASE WHEN LENGTH(s) > 20 THEN SUBSTR(s, 1, 17) || '_rg' ELSE s END AS norm_name
FROM n ORDER BY p_partkey
"""


# ==================== window / as-of / sessionize (J4, T3) ================


def nearest_preceding_anchor(spark, sf_dir):
    """J4/T3 as-of semantics: each event joined to the nearest PRECEDING
    'signup' of the same user (OBX -> nearest preceding OBR,
    fn_hl7_to_obxs_and_segm.scala:26-34) via last(ignorenulls) window."""
    ev = _spread(_t(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    anchor = F.last(
        F.when(F.col("event_type") == "signup", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("anchor_event_id", anchor)
        .select("event_id", "user_id", "anchor_event_id")
        .orderBy("event_id")
    )


ORACLE_ASOF = """
SELECT event_id, user_id,
       LAST_VALUE(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anchor_event_id
FROM events ORDER BY event_id
"""


def sessionize(spark, sf_dir):
    """Streaming-at-rest sessionization: session = prefix-sum of gaps > 30min
    per user (section 2.9: ordering resolved at rest, no state store)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session tz is pinned UTC so the LTZ hop
    # is identity, and NTZ has no direct bigint cast in Spark 4
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("session_no", F.sum(new_sess).over(wsum))
        .select("event_id", "user_id", "session_no")
        .orderBy("event_id")
    )


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT event_id, user_id,
         CASE WHEN EPOCH(ts) - LAG(EPOCH(ts)) OVER w IS NULL
                OR EPOCH(ts) - LAG(EPOCH(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
       CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
FROM g ORDER BY event_id
"""


# ===================== debatch / segments (D2, T2) ========================


def debatch_documents(spark, sf_dir):
    """D2 debatch explode: text -> one row per token with 1-based index
    (posexplode; fn_debatch_hl7.scala:52-73). Capped to first 8 tokens per
    doc to keep row counts bounded."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.posexplode(F.slice(F.split(F.col("text"), " "), 1, 8)).alias(
                "pos0", "token"
            ),
        )
        .select(
            "doc_id", (F.col("pos0") + 1).cast("int").alias("message_index"), "token"
        )
        .orderBy("doc_id", "message_index")
    )


ORACLE_DEBATCH = """
SELECT doc_id,
       CAST(u.i AS INT) AS message_index,
       l[u.i] AS token
FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS l FROM documents),
     LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEAST(LEN(l), 8))) AS i) u
ORDER BY doc_id, message_index
"""


def segment_rows(spark, sf_dir):
    """T2 lake-of-segments: per-token running counter within doc — segment_id
    'TOKEN[n]' (TransformerSegments.kt:19-90, SegIdBuilder.kt:6-15)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.slice(F.split(F.col("text"), " "), 1, 20)).alias("pos0", "token"),
    )
    w = Window.partitionBy("doc_id", "token").orderBy("pos0")
    return (
        tok.withColumn("occ", F.row_number().over(w))
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("int").alias("line_no"),
            "token",
            F.concat(F.col("token"), F.lit("["), F.col("occ"), F.lit("]")).alias(
                "segment_id"
            ),
        )
        .orderBy("doc_id", "line_no")
    )


ORACLE_SEGMENTS = """
WITH t AS (
  SELECT doc_id, CAST(u.i AS INT) AS line_no, l[u.i] AS token
  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS l FROM documents),
       LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEAST(LEN(l), 20))) AS i) u)
SELECT doc_id, line_no, token,
       token || '[' || CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, token ORDER BY line_no) AS VARCHAR) || ']' AS segment_id
FROM t ORDER BY doc_id, line_no
"""


# ================= validation reports (V2, V4/V6) =========================

EVENT_TYPE_VOCAB = ["signup", "click", "view", "purchase"]  # 'error' absent


def vocab_validation(spark, sf_dir):
    """V4/V6 vocabulary membership validation: each event's coded type is
    checked against a broadcast vocab dim (MmgValidator.kt:289-310 checkVocab,
    runHL7GoldContentValidation.scala:107-136); misses become value-set
    report entries and flip status to CONTENT_ERRORS via the NistReport
    precedence (ProfileManager.kt:158-163). 'error' is deliberately absent
    from the value set, so ~1/5 of rows carry a real vocab issue."""
    from data_exchange_hl7_spark.operators import validate as V
    from data_exchange_hl7_spark.operators.vocab import VocabCheck, check_vocab, vocab_table

    ev = _spread(_t(spark, sf_dir, "events"))
    vocab = vocab_table(
        spark, [("EVENT_TYPE", t, t.upper()) for t in EVENT_TYPE_VOCAB]
    )
    df = ev.select(
        "event_id",
        "event_type",
        F.lit("UPDATE").alias("op"),
        F.col("user_id").cast("string").alias("commit"),
        F.lit(None).cast("string").alias("new_path"),
        F.col("props").alias("content"),
    )
    checked = check_vocab(
        df, vocab, [VocabCheck("event_type", "EVENT_TYPE", path="event_type")]
    )
    out = V.validate(checked, value_set_entries=F.col("value_set_entries"))
    return out.select(
        "event_id",
        "event_type",
        (F.col("error_count")["value_set"] == 0).alias("vocab_ok"),
        F.col("error_count")["value_set"].alias("n_value_set_errors"),
        F.try_element_at(F.col("report")["entries"]["value_set"], F.lit(1))[
            "description"
        ].alias("issue"),
        "status",
    ).orderBy("event_id")


_VOCAB_VALUES = ", ".join(f"('{t}')" for t in EVENT_TYPE_VOCAB)
ORACLE_VOCAB = f"""
WITH vocab(concept_code) AS (VALUES {_VOCAB_VALUES}),
j AS (
  SELECT e.event_id, e.event_type, v.concept_code
  FROM events e LEFT JOIN vocab v ON e.event_type = v.concept_code)
SELECT event_id, event_type,
       concept_code IS NOT NULL AS vocab_ok,
       CAST(CASE WHEN concept_code IS NULL THEN 1 ELSE 0 END AS INT) AS n_value_set_errors,
       CASE WHEN concept_code IS NULL
            THEN 'Unable to find ''' || event_type || ''' on ''EVENT_TYPE''' END AS issue,
       CASE WHEN concept_code IS NULL THEN 'CONTENT_ERRORS' ELSE 'VALID_MESSAGE' END AS status
FROM j ORDER BY event_id
"""


def _nist_frame(ev):
    """Shared synthesized change-event frame for the NistReport queries:
    structure issues (missing commit, RENAME without new_path), content
    issues (whitespace pollution), deterministic per event_id."""
    return ev.select(
        "event_id",
        F.when(F.col("event_type") == "signup", F.lit("INSERT"))
        .when(F.col("event_type") == "view", F.lit("RENAME"))
        .when(F.col("event_type") == "error", F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
        .alias("op"),
        F.when(F.col("user_id") % 7 == 0, F.lit(""))
        .otherwise(F.col("user_id").cast("string"))
        .alias("commit"),
        F.when(
            (F.col("event_type") == "view") & (F.col("user_id") % 3 == 0),
            F.lit("renamed/path"),
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("new_path"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .when(F.col("user_id") % 5 == 0, F.concat(F.lit(" "), F.col("props")))
        .otherwise(F.col("props"))
        .alias("content"),
    )


def nist_report_counts(spark, sf_dir):
    """V2 three-category NistReport over a synthesized change-event frame:
    structure (missing commit, RENAME without new_path), content (whitespace
    pollution warning), value-set (empty here) — counts from the entries
    struct (NistReport.kt:33-55) and status from the precedence rule."""
    from data_exchange_hl7_spark.operators import validate as V

    out = V.validate(_nist_frame(_spread(_t(spark, sf_dir, "events"))))
    return out.select(
        "event_id",
        "status",
        F.col("error_count")["structure"].alias("err_structure"),
        F.col("error_count")["value_set"].alias("err_value_set"),
        F.col("error_count")["content"].alias("err_content"),
        F.col("warning_count")["content"].alias("warn_content"),
        F.size(F.col("report")["entries"]["structure"]).alias("n_structure_entries"),
    ).orderBy("event_id")


def profile_resolution(spark, sf_dir):
    """V1 message-driven profile resolution (Function.kt:133-158) over an
    HL7-shaped content column synthesized in-plan: MSH-4 carries the
    identifier (with ~-repeats), MSH-6 the facility, MSH-12 the version.
    Streams rotate NNDSS (1 path) / 'daart ' (2 paths, exercising
    uppercase+trim matching) / '' (unconfigured -> MSH-12 default, no
    prefix). The Spark side runs the real resolve_profile operator — the
    oracle re-parses the same content with string ops."""
    from data_exchange_hl7_spark.operators.profile_resolve import (
        load_profile_config,
        resolve_profile,
    )

    ev = _spread(_t(spark, sf_dir, "events"))
    df = ev.select(
        "event_id",
        F.concat(
            F.lit("MSH|^~\\&|app|"),
            F.col("event_type"),
            F.lit("^x~other^y|f5|FAC6|f7|f8|f9|f10|f11|2.5.1"),
        ).alias("content"),
        F.when(F.col("user_id") % 3 == 0, F.lit("NNDSS"))
        .when(F.col("user_id") % 3 == 1, F.lit(" daart "))
        .otherwise(F.lit(""))
        .alias("data_stream_id"),
    )
    cfg = load_profile_config(
        {
            "profile_identifiers": [
                {"data_stream_id": "NNDSS", "identifier_paths": ["MSH-4[1].1"]},
                {
                    "data_stream_id": "DAART",
                    "identifier_paths": ["MSH-4[1].1", "MSH-6.1"],
                },
            ]
        }
    )
    out = resolve_profile(df, cfg)
    return out.select(
        "event_id",
        "data_stream_id",
        "profile_name",
        F.array_join("profile_paths", ",").alias("paths_used"),
    ).orderBy("event_id")


ORACLE_PROFILE_RESOLUTION = r"""
WITH m AS (
  SELECT event_id,
         'MSH|^~\&|app|' || event_type || '^x~other^y|f5|FAC6|f7|f8|f9|f10|f11|2.5.1' AS content,
         CASE WHEN user_id % 3 = 0 THEN 'NNDSS'
              WHEN user_id % 3 = 1 THEN ' daart '
              ELSE '' END AS data_stream_id
  FROM events),
f AS (
  SELECT event_id, data_stream_id, STR_SPLIT(content, '|') AS p FROM m),
x AS (
  SELECT event_id, data_stream_id,
         UPPER(STR_SPLIT(STR_SPLIT(p[4], '~')[1], '^')[1]) AS id1,
         UPPER(STR_SPLIT(STR_SPLIT(p[6], '~')[1], '^')[1]) AS fac,
         UPPER(STR_SPLIT(STR_SPLIT(p[12], '~')[1], '^')[1]) AS ver
  FROM f)
SELECT event_id, data_stream_id,
       CASE WHEN UPPER(TRIM(data_stream_id)) = 'NNDSS' THEN 'NNDSS-' || id1
            WHEN UPPER(TRIM(data_stream_id)) = 'DAART' THEN 'DAART-' || id1 || '-' || fac
            ELSE ver END AS profile_name,
       CASE WHEN UPPER(TRIM(data_stream_id)) = 'NNDSS' THEN 'MSH-4[1].1'
            WHEN UPPER(TRIM(data_stream_id)) = 'DAART' THEN 'MSH-4[1].1,MSH-6.1'
            ELSE 'MSH-12' END AS paths_used
FROM x ORDER BY event_id
"""


def embedded_binary_strip(spark, sf_dir):
    """D5 embedded-binary strip (HL7Transformer.kt:17-112) over HL7-shaped
    content synthesized in-plan: each message carries one OBX|..|ED segment
    whose OBX-5.5 is a base64 payload (base64 of the event_type). The Spark
    side runs the real strip operator; the oracle reconstructs the stripped
    message + payload columns with string ops."""
    from data_exchange_hl7_spark.operators.normalize import strip_embedded_binary

    ev = _spread(_t(spark, sf_dir, "events"))
    payload = F.base64(F.col("event_type").cast("binary"))
    df = ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        "event_type",
        F.concat(
            F.lit("MSH|^~\\&|app|fac\nOBX|1|ED|18836-6^doc||app^image^png^Base64^"),
            payload,
            F.lit("|\nOBX|2|NM|30525-0||42"),
        ).alias("content"),
    )
    stripped, att = strip_embedded_binary(df)
    return (
        stripped.join(att, "message_id")
        .select(
            F.col("message_id").cast("bigint").alias("event_id"),
            "content",
            "line_no",
            "extension",
            "payload_b64",
            "payload_sha256",
            "n_bytes",
            "ref_uri",
        )
        .orderBy("event_id")
    )


ORACLE_EMBEDDED_STRIP = """
SELECT event_id,
       'MSH|^~\\&|app|fac' || CHR(10) ||
       'OBX|1|ED|18836-6^doc||app^image^png^Base64^attachment://' ||
       CAST(event_id AS VARCHAR) || '/2.png|' || CHR(10) ||
       'OBX|2|NM|30525-0||42' AS content,
       CAST(2 AS INT) AS line_no,
       'png' AS extension,
       TO_BASE64(ENCODE(event_type)) AS payload_b64,
       SHA256(event_type) AS payload_sha256,
       CAST(STRLEN(event_type) AS BIGINT) AS n_bytes,
       'attachment://' || CAST(event_id AS VARCHAR) || '/2.png' AS ref_uri
FROM events ORDER BY event_id
"""


def sql_model_child(spark, sf_dir):
    """T5 parent/child SQL normalization (TransformerSql.kt:137-214) over
    HL7-shaped content synthesized in-plan: every message carries two OBX
    repeats; the child table keys each repeat with the deterministic
    surrogate sha256(parent|OBX|pos) that replaces the reference's uuid()
    (TransformerSql.kt:179). The Spark side runs the real to_sql_model
    operator; the oracle rebuilds the child rows with UNNEST."""
    from data_exchange_hl7_spark.operators.profile_transform import to_sql_model

    ev = _spread(_t(spark, sf_dir, "events"))
    cents = _cents(F.col("value")).cast("string")
    df = ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.concat(
            F.lit("MSH|^~\\&|app\nOBX|1|NM|30525-0||"),
            cents,
            F.lit("\nOBX|2|ST|77968-6||"),
            F.col("event_type"),
        ).alias("content"),
    )
    profile = {
        "OBX": {
            "cardinality": "[0..*]",
            "fields": [
                {"name": "set_id", "field": 1},
                {"name": "value_type", "field": 2},
                {"name": "value", "field": 5},
            ],
        }
    }
    child = to_sql_model(df, profile)["obx_repeating_group"]
    return child.select(
        F.col("message_id").cast("bigint").alias("event_id"),
        "obx_repeating_group_id",
        "seq",
        "set_id",
        "value_type",
        "value",
    ).orderBy("event_id", "seq")


ORACLE_SQL_MODEL_CHILD = """
SELECT event_id,
       SHA256(CAST(event_id AS VARCHAR) || '|OBX|' || CAST(u.i - 1 AS VARCHAR))
         AS obx_repeating_group_id,
       CAST(u.i AS INT) AS seq,
       CAST(u.i AS VARCHAR) AS set_id,
       CASE WHEN u.i = 1 THEN 'NM' ELSE 'ST' END AS value_type,
       CASE WHEN u.i = 1 THEN CAST(CAST(ROUND(value*100) AS BIGINT) AS VARCHAR)
            ELSE event_type END AS value
FROM events, (SELECT UNNEST([1, 2]) AS i) u
ORDER BY event_id, seq
"""


def sql_model_vocab_enriched(spark, sf_dir):
    """T5 + CE/CWE coded-type enrichment (TransformerSql.kt:68-74 adds
    ``_code_system_concept_name`` / ``_cdc_preferred_designation`` columns
    for coded elements by vocab lookup; vocab shape from
    content_vocab_lookup.scala:2-26): the OBX child table is built by the
    real to_sql_model with OBX-2 dynamic typing — repeat 1 is CE (coded),
    repeat 2 is ST (plain) — then enrich_coded broadcast-joins the coded
    rows' code against the value set. ST rows and unknown codes ('error'
    is absent from the vocab) keep both designations null."""
    from data_exchange_hl7_spark.operators.profile_transform import to_sql_model
    from data_exchange_hl7_spark.operators.vocab import enrich_coded, vocab_table

    ev = _spread(_t(spark, sf_dir, "events"))
    df = ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.concat(
            F.lit("MSH|^~\\&|app\nOBX|1|CE|55555-5||"),
            F.col("event_type"),
            F.lit("^desc^SYS\nOBX|2|ST|77968-6||plain"),
        ).alias("content"),
    )
    profile = {
        "OBX": {
            "cardinality": "[0..*]",
            "fields": [
                {"name": "set_id", "field": 1},
                {"name": "obs", "field": 5, "dynamic_type_from": 2},
            ],
        }
    }
    child = to_sql_model(df, profile)["obx_repeating_group"]
    vocab = vocab_table(
        spark,
        [
            ("EVENT_TYPE", t, t.upper(), t.capitalize() + " (CDC)")
            for t in EVENT_TYPE_VOCAB
        ],
    )
    out = enrich_coded(child, vocab, F.col("obs")["code"], "EVENT_TYPE", "obs")
    return out.select(
        F.col("message_id").cast("bigint").alias("event_id"),
        "seq",
        F.col("obs")["type"].alias("value_type"),
        F.col("obs")["code"].alias("code"),
        "obs_code_system_concept_name",
        "obs_cdc_preferred_designation",
    ).orderBy("event_id", "seq")


_ENRICH_VALUES = ", ".join(
    f"('{t}', '{t.upper()}', '{t.capitalize()} (CDC)')" for t in EVENT_TYPE_VOCAB
)
ORACLE_SQL_MODEL_ENRICHED = f"""
WITH v(code, cname, pref) AS (VALUES {_ENRICH_VALUES}),
rows AS (
  SELECT event_id, u.i AS seq,
         CASE WHEN u.i = 1 THEN 'CE' ELSE 'ST' END AS value_type,
         CASE WHEN u.i = 1 THEN event_type END AS code
  FROM events, (SELECT UNNEST([1, 2]) AS i) u)
SELECT r.event_id, CAST(r.seq AS INT) AS seq, r.value_type, r.code,
       v.cname AS obs_code_system_concept_name,
       v.pref AS obs_cdc_preferred_designation
FROM rows r LEFT JOIN v ON r.code = v.code
ORDER BY r.event_id, r.seq
"""


def obx_epi_split(spark, sf_dir):
    """The reference silver stage's epi / non-epi / other 3-way segment
    bucket (fn_hl7_to_obxs_and_segm.scala:36-68): each OBX inherits its
    nearest preceding OBR's OBR-4.1; anchor code 68991-9 marks the epi
    section. Messages synthesize two OBR groups (the first flips to a
    non-epi code for 'error' events, so both epi and non-epi populations
    exist); runs the real segment_lake + split_obx_epi operators."""
    from data_exchange_hl7_spark.operators.profile_transform import (
        segment_lake,
        split_obx_epi,
    )

    ev = _spread(_t(spark, sf_dir, "events"))
    first_code = (
        F.when(F.col("event_type") == "error", F.lit("11111-1"))
        .otherwise(F.lit("68991-9"))
    )
    df = ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.concat(
            F.lit("MSH|^~\\&|app\nOBR|1||A|"),
            first_code,
            F.lit(
                "^Epi\nOBX|1|ST|Q1||v1\nOBX|2|ST|Q2||v2\n"
                "OBR|2||B|12345-6^Other\nOBX|3|ST|Q3||v3\nNTE|1|note"
            ),
        ).alias("content"),
    )
    rows = split_obx_epi(segment_lake(df))
    return rows.select(
        F.col("message_id").cast("bigint").alias("event_id"),
        "line_no",
        "segment_type",
        "anchor_obr_code",
        "obx_bucket",
    ).orderBy("event_id", "line_no")


ORACLE_OBX_EPI_SPLIT = r"""
WITH docs AS (
  SELECT event_id,
         'MSH|^~\&|app' || chr(10) ||
         'OBR|1||A|' ||
         CASE WHEN event_type = 'error' THEN '11111-1' ELSE '68991-9' END ||
         '^Epi' || chr(10) ||
         'OBX|1|ST|Q1||v1' || chr(10) || 'OBX|2|ST|Q2||v2' || chr(10) ||
         'OBR|2||B|12345-6^Other' || chr(10) || 'OBX|3|ST|Q3||v3' || chr(10) ||
         'NTE|1|note' AS content
  FROM events),
lines AS (
  SELECT event_id,
         UNNEST(string_split(content, chr(10))) AS line,
         GENERATE_SUBSCRIPTS(string_split(content, chr(10)), 1) AS pos
  FROM docs),
t AS (
  SELECT event_id, pos, SUBSTR(line, 1, 3) AS segment_type,
         LAST_VALUE(CASE WHEN SUBSTR(line, 1, 3) = 'OBR'
                         THEN STR_SPLIT(STR_SPLIT(line, '|')[5], '^')[1]
                    END IGNORE NULLS)
           OVER (PARTITION BY event_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS anchor_obr_code
  FROM lines)
SELECT event_id, CAST(pos AS INT) AS line_no, segment_type, anchor_obr_code,
       CASE WHEN segment_type = 'OBX' AND anchor_obr_code = '68991-9'
                 THEN 'epi_obx'
            WHEN segment_type = 'OBX' THEN 'non_epi_obx'
            ELSE 'other' END AS obx_bucket
FROM t ORDER BY event_id, line_no
"""


def hl7_debatch(spark, sf_dir):
    """D2/D3/D4 — the REAL debatcher (not the whitespace-token analogue the
    round-1 oracle used): every event becomes a 2-message HL7 batch file
    (FHS/BHS headers, BTS/FTS trailers); the operator must drop the wrapper
    lines, keep the first header, split at MSH, 1-index messages, and derive
    content-hash identities. The oracle reconstructs each output row."""
    from data_exchange_hl7_spark.operators.debatch import debatch

    ev = _spread(_t(spark, sf_dir, "events"))
    df = ev.select(
        F.col("event_id").cast("string").alias("file_id"),
        F.concat(
            F.lit("FHS|^~\\&|batchhdr\nBHS|^~\\&|x\nMSH|^~\\&|app1|"),
            F.col("event_type"),
            F.lit("\nPID|1||P1\nMSH|^~\\&|app2|"),
            F.col("event_type"),
            F.lit("\nOBX|1|NM|x||42\nBTS|2\nFTS|1"),
        ).alias("content"),
    )
    out = debatch(df)
    return out.select(
        F.col("file_id").cast("bigint").alias("event_id"),
        "message_index",
        "single_or_batch",
        "batch_header",
        "message_content",
        "message_hash",
        "message_id",
        "debatch_status",
    ).orderBy("event_id", "message_index")


ORACLE_HL7_DEBATCH = r"""
WITH m AS (
  SELECT event_id, u.i,
         CASE WHEN u.i = 1
              THEN 'MSH|^~\&|app1|' || event_type || CHR(10) || 'PID|1||P1'
              ELSE 'MSH|^~\&|app2|' || event_type || CHR(10) || 'OBX|1|NM|x||42'
         END AS message_content
  FROM events, (SELECT UNNEST([1, 2]) AS i) u)
SELECT event_id,
       CAST(i AS INT) AS message_index,
       'BATCH' AS single_or_batch,
       'FHS|^~\&|batchhdr' AS batch_header,
       message_content,
       SHA256(message_content) AS message_hash,
       SHA256(CAST(event_id AS VARCHAR) || '|' || CAST(i AS VARCHAR) || '|'
              || SHA256(message_content)) AS message_id,
       'RECEIVED' AS debatch_status
FROM m ORDER BY event_id, message_index
"""


def hl7_segments(spark, sf_dir):
    """T2 — the REAL lake-of-segments flatten over HL7-shaped content (per-
    type running counter, 'OBX[2]' ids), not the token analogue."""
    from data_exchange_hl7_spark.operators.profile_transform import segment_lake

    ev = _spread(_t(spark, sf_dir, "events"))
    cents = _cents(F.col("value")).cast("string")
    df = ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.concat(
            F.lit("MSH|^~\\&|app\nOBX|1|NM|a||"),
            cents,
            F.lit("\nOBX|2|ST|b||"),
            F.col("event_type"),
            F.lit("\nNTE|1||note"),
        ).alias("content"),
    )
    segs = segment_lake(df)
    return segs.select(
        F.col("message_id").cast("bigint").alias("event_id"),
        "line_no",
        "segment_type",
        "segment_number",
        "segment_id",
        "segment_line",
    ).orderBy("event_id", "line_no")


ORACLE_HL7_SEGMENTS = r"""
SELECT event_id,
       CAST(u.i AS INT) AS line_no,
       CASE u.i WHEN 1 THEN 'MSH' WHEN 4 THEN 'NTE' ELSE 'OBX' END AS segment_type,
       CAST(CASE u.i WHEN 3 THEN 2 ELSE 1 END AS INT) AS segment_number,
       CASE u.i WHEN 1 THEN 'MSH[1]' WHEN 2 THEN 'OBX[1]'
                WHEN 3 THEN 'OBX[2]' ELSE 'NTE[1]' END AS segment_id,
       CASE u.i
         WHEN 1 THEN 'MSH|^~\&|app'
         WHEN 2 THEN 'OBX|1|NM|a||' || CAST(CAST(ROUND(value*100) AS BIGINT) AS VARCHAR)
         WHEN 3 THEN 'OBX|2|ST|b||' || event_type
         ELSE 'NTE|1||note' END AS segment_line
FROM events, (SELECT UNNEST([1, 2, 3, 4]) AS i) u
ORDER BY event_id, line_no
"""


def redaction(spark, sf_dir):
    """D6 — the REAL redactor with the DEFAULT rule profile: content rows
    alternate between an email hit and an ip + secret-assignment hit; the
    oracle applies the identical regex chain (RE2) and the expected
    per-rule report."""
    from data_exchange_hl7_spark.operators.normalize import redact

    ev = _spread(_t(spark, sf_dir, "events"))
    raw = F.when(
        F.col("user_id") % 2 == 0,
        F.concat(F.lit("mail "), F.col("event_type"), F.lit("@example.com ok")),
    ).otherwise(
        F.concat(
            F.lit("ip 10.1.2."),
            (F.col("user_id") % 200).cast("string"),
            F.lit(" token="),
            F.col("event_type"),
        )
    )
    df = ev.select("event_id", raw.alias("content"))
    out = redact(df)
    return out.select(
        "event_id",
        "content",
        F.array_join(
            F.transform("redaction_report", lambda x: x["rule"]), ","
        ).alias("rules_hit"),
    ).orderBy("event_id")


ORACLE_REDACTION = r"""
WITH m AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0
              THEN 'mail ' || event_type || '@example.com ok'
              ELSE 'ip 10.1.2.' || CAST(user_id % 200 AS VARCHAR) || ' token=' || event_type
         END AS raw,
         user_id % 2 = 0 AS has_email
  FROM events)
SELECT event_id,
       REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(raw,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<redacted:email>', 'g'),
         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<redacted:ip>', 'g'),
         'AKIA[0-9A-Z]{16}', '<redacted:aws-key>', 'g'),
         '(?i)(password|secret|api_key|token)\s*[:=]\s*\S+', '\1=<redacted>', 'g') AS content,
       CASE WHEN has_email THEN 'email' ELSE 'ipv4,secret_assign' END AS rules_hit
FROM m ORDER BY event_id
"""


def mmg_content_validation(spark, sf_dir):
    """V4 MMG content checks (MmgValidator.kt:36-97 driver): cardinality
    [m..n] (209-272), date format (311-357), MMWR week range, and OBX-4
    sub-id uniqueness (100-165) over HL7-shaped content synthesized in-plan —
    OBX repeat count, date validity, week value, and sub-id collisions all
    rotate with user_id so every check fires on a real slice of rows."""
    from data_exchange_hl7_spark.operators.mmg_content import (
        ContentRule,
        check_content,
        check_subid_uniqueness,
    )

    ev = _spread(_t(spark, sf_dir, "events"))
    u = F.col("user_id")
    date = F.when(u % 5 == 0, F.lit("99999999")).otherwise(
        F.date_format("ts", "yyyyMMdd")
    )
    week = (u % 60).cast("string")
    line2 = F.concat(
        F.lit("\nOBX|2|ST|c|"),
        F.when(u % 7 == 0, F.lit("1")).otherwise(F.lit("2")),
        F.lit("|"),
        F.col("event_type"),
    )
    content = F.concat(
        F.lit("MSH|^~\\&|app\nOBR|1||||||"),
        date,
        F.lit("|"),
        week,
        F.lit("\nOBX|1|ST|c|1|"),
        F.col("event_type"),
        F.when(u % 3 >= 1, line2).otherwise(F.lit("")),
        F.when(
            u % 3 == 2, F.concat(F.lit("\nOBX|3|ST|c|3|"), F.col("event_type"))
        ).otherwise(F.lit("")),
    )
    df = ev.select("event_id", content.alias("content"))
    rules = [
        ContentRule("result", "OBX-5", cardinality="[1..2]"),
        ContentRule("obs_date", "OBR-7", date_check=True),
        ContentRule("week", "OBR-8", mmwr_week_check=True, usage="O"),
    ]
    out = check_subid_uniqueness(check_content(df, rules))

    # Per-category counts via explode + hash-agg rather than one
    # F.filter(content_entries, ...) per output column: lambda-bearing
    # expressions are excluded from Spark's subexpression elimination, so the
    # multi-reference projection re-evaluates the whole rule tree per column
    # (measured 13s -> 8.1s at sf0.1 on local[32]).
    def n_cat(c):
        return (
            F.sum(F.when(F.col("e.category") == c, 1).otherwise(0))
            .cast("int")
        )

    flat = out.withColumn(
        "subid_dup",
        F.exists(
            F.col("subid_entries"), lambda x: x["description"].startswith("Duplicate")
        ),
    ).select("event_id", "subid_dup", F.explode_outer("content_entries").alias("e"))
    return (
        flat.groupBy("event_id", "subid_dup")
        .agg(
            n_cat("CARDINALITY").alias("n_cardinality"),
            n_cat("DATE_CONTENT").alias("n_date"),
            n_cat("MMWR_WEEK").alias("n_mmwr"),
            F.count(F.col("e.path")).cast("int").alias("n_content_entries"),
        )
        .select(
            "event_id",
            "n_cardinality",
            "n_date",
            "n_mmwr",
            "subid_dup",
            "n_content_entries",
        )
        .orderBy("event_id")
    )


ORACLE_MMG_CONTENT = """
SELECT event_id,
       CAST(CASE WHEN user_id % 3 = 2 THEN 1 ELSE 0 END AS INT) AS n_cardinality,
       CAST(CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS n_date,
       CAST(CASE WHEN user_id % 60 < 1 OR user_id % 60 > 53 THEN 1 ELSE 0 END AS INT) AS n_mmwr,
       (user_id % 7 = 0 AND user_id % 3 >= 1) AS subid_dup,
       CAST(CASE WHEN user_id % 3 = 2 THEN 1 ELSE 0 END
          + CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END
          + CASE WHEN user_id % 60 < 1 OR user_id % 60 > 53 THEN 1 ELSE 0 END AS INT)
         AS n_content_entries
FROM events ORDER BY event_id
"""


ORACLE_NIST_COUNTS = """
WITH v AS (
  SELECT event_id,
         CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END AS commit_err,
         CASE WHEN event_type = 'view' AND user_id % 3 <> 0 THEN 1 ELSE 0 END AS rename_err,
         CASE WHEN event_type <> 'error' AND user_id % 5 = 0 THEN 1 ELSE 0 END AS ws_warn
  FROM events)
SELECT event_id,
       CASE WHEN commit_err + rename_err > 0 THEN 'STRUCTURE_ERRORS'
            ELSE 'VALID_MESSAGE' END AS status,
       CAST(commit_err + rename_err AS INT) AS err_structure,
       CAST(0 AS INT) AS err_value_set,
       CAST(0 AS INT) AS err_content,
       CAST(ws_warn AS INT) AS warn_content,
       CAST(commit_err + rename_err AS INT) AS n_structure_entries
FROM v ORDER BY event_id
"""


# =============== lake: time travel / CDF / stats-filtered read =============
#
# These three queries drive the LakeTable surface (Iceberg VERSION AS OF,
# incremental read / table_changes, and manifest-stats file skipping) under
# the oracle gate. They materialize a small MoR lake table from the shared
# `events` WAL split into two deterministic epochs (even event_ids, then odd),
# so both the as-of state and the change feed are pure SQL over `events`.

_LAKE_DEMO_CACHE: dict[str, str] = {}


def _lake_demo_table(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) a 2-epoch MoR table keyed by user_id.

    Epoch 1 applies the even event_ids, epoch 2 the odd ones; op is D for
    'error' events (delete tombstone) else U, order col is event_id (the LSN).
    """
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _LAKE_DEMO_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        return LakeTable(spark, loc)
    loc = tempfile.mkdtemp(prefix="dex_lake_demo_")
    t = LakeTable.create(
        spark,
        loc,
        schema=[("user_id", "bigint"), ("event_type", "string"), ("event_id", "bigint")],
        key_cols=["user_id"],
        n_buckets=8,
        order_col="event_id",
    )
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
    for epoch, parity in ((1, 0), (2, 1)):
        half = ev.filter(F.col("event_id") % 2 == parity)
        changes = latest_by_key(half, ["user_id"], ["event_id"]).withColumn(
            "__op", F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))
        )
        t.merge(changes, epoch=epoch)
    _LAKE_DEMO_CACHE[sf_dir] = loc
    return t


def time_travel_as_of(spark, sf_dir):
    """Iceberg VERSION AS OF: read the table state at snapshot 1 (after the
    even-event epoch only) — `lake/table.py` snapshot(as_of=...). Oracle is
    latest-per-user over even event_ids minus deleted users."""
    t = _lake_demo_table(spark, sf_dir)
    return (
        t.snapshot(as_of=1)
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_TIME_TRAVEL = """
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events WHERE event_id % 2 = 0)
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


def change_data_feed(spark, sf_dir):
    """Iceberg incremental read / table_changes analogue: every change row
    committed after snapshot 1 (i.e. the odd-event epoch), with its
    _change_type — `lake/table.py` changes_between()."""
    t = _lake_demo_table(spark, sf_dir)
    return (
        t.changes_between(1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("_change_type").alias("change_type"),
        )
        .orderBy("user_id")
    )


ORACLE_CDF = """
SELECT user_id, event_id AS last_event_id,
       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS change_type
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events WHERE event_id % 2 = 1)
WHERE rn = 1
ORDER BY user_id
"""


def cdf_replica_read(spark, sf_dir):
    """Table-to-table incremental replication under the oracle gate: an
    INDEPENDENT downstream consumer tails the demo table's change feed by
    snapshot offset (``streaming/cdf_tail.py`` — the Iceberg/Delta
    'streaming read from a table' analogue; reference analogue: the replay
    fan-out of svc-hl7-replay, with the upstream table's delta layers as
    the persisted event window) and maintains a replica with a DIFFERENT
    bucket count, one upstream snapshot per poll. Exactly-once is the
    replica's own epoch ledger (epoch id = upstream snapshot id): the
    second catch-up run must replicate nothing. The replica's resolved
    state must equal DuckDB's latest-per-user over ALL events minus
    deleted users — i.e. exactly the upstream state, reproduced through
    the feed alone.

    Scale shape: each poll reads only the window's delta files
    (O(changes)), reduces with one key-hash shuffle, and merges through
    the bucket-aligned MoR path — consumer cost tracks backlog size,
    never table size."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.streaming.cdf_tail import CdfTailReplicator

    up = _lake_demo_table(spark, sf_dir)
    key = f"{sf_dir}::cdfreplica"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(loc)):
        loc = tempfile.mkdtemp(prefix="dex_cdf_replica_")
        rep = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=4,  # != upstream's 8: replication is layout-independent
            order_col="event_id",
        )
        tail = CdfTailReplicator(up, rep, max_snapshots_per_poll=1)
        stats = tail.run_until_caught_up()
        if [s["applied"] for s in stats] != [True, True]:
            raise AssertionError(f"expected 2 applied polls, got {stats}")
        again = tail.run_until_caught_up()
        if any(s["applied"] for s in again):
            raise AssertionError(f"re-poll must be exactly-once NO-OP: {again}")
        _LAKE_DEMO_CACHE[key] = loc
    rep = LakeTable(spark, loc)
    return (
        rep.snapshot()
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_CDF_REPLICA = """
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events)
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


def _ivf_index_derive(changes):
    """Per-row IVF coarse-cell assignment over the change frame — THE
    deterministic 4-centroid scheme, imported from queries_text
    (ivf_cell_sums / ivf_cell_from_sums — one definition shared with
    ivf_partition_assign, so the batch assignment and the index-maintenance
    path cannot drift), evaluated as pure array expressions: no explode, no
    shuffle, no centroid join. D tombstones pass through (their null
    embedding yields a garbage cell the merge never reads — deletes only
    need the key)."""
    from data_exchange_hl7_spark.queries_text import (
        ivf_cell_from_sums,
        ivf_cell_sums,
        quantize_expr,
    )

    q = quantize_expr(F.col("embedding"))
    sums = [s.alias(f"__s{j}") for j, s in enumerate(ivf_cell_sums(q))]
    df = changes.select("vec_id", "label", *sums, "lsn", "__op")
    cell = ivf_cell_from_sums(*[F.col(f"__s{j}") for j in range(4)])
    return df.select("vec_id", "label", cell.alias("cell"), "lsn", "__op")


def ivf_index_replica_read(spark, sf_dir):
    """INCREMENTAL IVF index maintenance under the oracle gate — the
    vector-side sibling of incremental_minhash_index, composed from the CDF
    tail replicator: a vectors table keyed by vec_id evolves over two
    epochs (epoch 0 INSERTs every vector with its dims REVERSED, epoch 1
    UPDATEs vec_id%3==0 to the true embedding and DELETEs vec_id%7==0), and
    an IVF-cell index table is maintained as a TRANSFORMED replica tailing
    the change feed — each poll re-derives cells for exactly the window's
    changed keys. The final index must equal DuckDB's assignment computed
    straight from each key's FINAL vector, which certifies all three
    incremental behaviors at once: untouched keys keep their epoch-0 cells
    (never recomputed), updated keys are re-assigned from the new vector,
    deleted keys leave no row.

    Scale shape: at 10^9 vectors the IVF index refresh is O(changed
    vectors) per epoch — the derive is a narrow per-row expression over the
    window's delta files, and the index merge is bucket-aligned on vec_id;
    the corpus of vectors never re-shuffles after ingest. ANN probes
    (ivf_topk_trained) then scan only the probed cells of THIS index."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.streaming.cdf_tail import CdfTailReplicator

    key = f"{sf_dir}::ivfreplica"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "index"))):
        loc = tempfile.mkdtemp(prefix="dex_ivf_idx_")
        up = LakeTable.create(
            spark,
            os.path.join(loc, "vectors"),
            schema=[
                ("vec_id", "bigint"),
                ("label", "int"),
                ("embedding", "array<float>"),
                ("lsn", "bigint"),
            ],
            key_cols=["vec_id"],
            n_buckets=8,
            order_col="lsn",
        )
        idx = LakeTable.create(
            spark,
            os.path.join(loc, "index"),
            schema=[
                ("vec_id", "bigint"),
                ("label", "int"),
                ("cell", "int"),
                ("lsn", "bigint"),
            ],
            key_cols=["vec_id"],
            n_buckets=4,
            order_col="lsn",
        )
        emb = _t(spark, sf_dir, "embeddings")
        v1 = emb.select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.reverse("embedding").alias("embedding"),
            (F.col("vec_id") * 2).alias("lsn"),
            F.lit("U").alias("__op"),
        )
        v2 = emb.filter((F.col("vec_id") % 3 == 0) | (F.col("vec_id") % 7 == 0)).select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.when(F.col("vec_id") % 7 == 0, F.lit(None).cast("array<float>"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
            (F.col("vec_id") * 2 + 1).alias("lsn"),
            F.when(F.col("vec_id") % 7 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("__op"),
        )
        up.merge(v1, epoch=0)
        up.merge(v2, epoch=1)
        tail = CdfTailReplicator(
            up, idx, transform=_ivf_index_derive, max_snapshots_per_poll=1
        )
        stats = tail.run_until_caught_up()
        if [s["applied"] for s in stats] != [True, True]:
            raise AssertionError(f"expected 2 applied polls, got {stats}")
        _LAKE_DEMO_CACHE[key] = loc
    idx = LakeTable(spark, os.path.join(loc, "index"))
    return (
        idx.snapshot()
        .select("vec_id", "label", "cell", F.col("lsn").alias("last_lsn"))
        .orderBy("vec_id")
    )


ORACLE_IVF_INDEX_REPLICA = f"""
WITH fin AS (
  SELECT vec_id, label,
         CASE WHEN vec_id % 3 = 0 THEN embedding
              ELSE LIST_REVERSE(embedding) END AS emb,
         CAST(CASE WHEN vec_id % 3 = 0 THEN vec_id * 2 + 1
                   ELSE vec_id * 2 END AS BIGINT) AS last_lsn
  FROM embeddings WHERE vec_id % 7 <> 0),
s AS (SELECT vec_id, label, last_lsn, {qt.ivf_cell_sums_sql('emb')} FROM fin)
SELECT vec_id, CAST(label AS INT) AS label,
       {qt.IVF_CELL_CASE_SQL} AS cell,
       last_lsn
FROM s ORDER BY vec_id
"""


def snapshot_diff(spark, sf_dir):
    """Snapshot-to-snapshot corpus diff: full-outer join of the table state
    at snapshot 1 (time travel) against the current state, classifying every
    key as added / removed / changed / unchanged — the 'what changed between
    corpus releases' report a training-data pipeline publishes with each
    refresh, and the audit view of the same deltas the change-data feed
    exposes row-by-row (Iceberg analogue: joining two VERSION AS OF reads;
    reference analogue: the before/after comparisons of the replay
    controller's processing-status reports, svc-hl7-replay).

    Scale shape: both sides are stats-skipped snapshot reads of the SAME
    table with identical key bucketing, so the full-outer join hashes on the
    already-bucket-aligned key; the classification is a narrow projection on
    the join output. 'removed' keys come from delete tombstones (the 'error'
    latest rows), 'added' from keys whose first change landed after
    snapshot 1."""
    t = _lake_demo_table(spark, sf_dir)
    old = t.snapshot(as_of=1).select("user_id", F.col("event_id").alias("old_event_id"))
    new = t.snapshot().select("user_id", F.col("event_id").alias("new_event_id"))
    status = (
        F.when(F.col("old_event_id").isNull(), F.lit("added"))
        .when(F.col("new_event_id").isNull(), F.lit("removed"))
        .when(F.col("old_event_id") != F.col("new_event_id"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        old.join(new, "user_id", "full_outer")
        .select("user_id", "old_event_id", "new_event_id", status.alias("status"))
        .orderBy("user_id")
    )


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT user_id, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0)
  WHERE rn = 1 AND event_type <> 'error'),
new AS (
  SELECT user_id, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events)
  WHERE rn = 1 AND event_type <> 'error')
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       o.event_id AS old_event_id,
       n.event_id AS new_event_id,
       CASE WHEN o.user_id IS NULL THEN 'added'
            WHEN n.user_id IS NULL THEN 'removed'
            WHEN o.event_id <> n.event_id THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id
ORDER BY user_id
"""


def filtered_snapshot_read(spark, sf_dir):
    """Manifest-stats file skipping: key-predicate read of the final MoR state
    (`lake/table.py` snapshot(where=...)). Values must equal the unpruned
    latest-per-user state restricted to user_id < 50 — pruning is an
    optimization, never a semantics change."""
    t = _lake_demo_table(spark, sf_dir)
    return (
        t.snapshot(where=[("user_id", "<", 50)])
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_FILTERED_READ = """
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events)
WHERE rn = 1 AND event_type <> 'error' AND user_id < 50
ORDER BY user_id
"""


def schema_evolution_read(spark, sf_dir):
    """Full schema-evolution cycle under the oracle gate (north-rule
    add/rename/type-widen mapped to Iceberg-style field-ID schema updates):
    epoch 1 lands even event_ids under schema v0 (event_id:int,
    session_hint:string populated), then the schema evolves (DROP
    session_hint, widen event_id int->bigint, rename event_type->op_type,
    add value_cents:bigint, RE-ADD session_hint under a new field id),
    epoch 2 lands odd event_ids under the evolved schema. The final read
    must project v0 files through the field-ID mapping: renamed column
    resolves by id, widened ints upcast, added column is NULL for rows
    whose latest version predates it — and the dropped-then-re-added
    session_hint must be NULL for every epoch-1 row even though those
    files still hold its old bytes (new field id, no resurrection — the
    drop/re-add corruption a name-based mapping would hit)."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    key = f"{sf_dir}::evolve"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(loc)):
        loc = tempfile.mkdtemp(prefix="dex_lake_evolve_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "int"),
                ("session_hint", "string"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events")
        e1 = ev.filter(F.col("event_id") % 2 == 0).select(
            "user_id",
            "event_type",
            F.col("event_id").cast("int").alias("event_id"),
            F.concat(F.lit("h"), F.col("user_id")).alias("session_hint"),
        )
        c1 = latest_by_key(e1, ["user_id"], ["event_id"]).withColumn(
            "__op", F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))
        )
        t.merge(c1, epoch=1)
        t.drop_column("session_hint")
        t.widen_column("event_id", "bigint")
        t.rename_column("event_type", "op_type")
        t.add_column("value_cents", "bigint")
        t.add_column("session_hint", "string")  # re-add: NEW field id
        e2 = ev.filter(F.col("event_id") % 2 == 1).select(
            "user_id",
            F.col("event_type").alias("op_type"),
            "event_id",
            F.floor(F.col("value") * 100).cast("bigint").alias("value_cents"),
            F.concat(F.lit("H"), F.col("event_id")).alias("session_hint"),
        )
        c2 = latest_by_key(e2, ["user_id"], ["event_id"]).withColumn(
            "__op", F.when(F.col("op_type") == "error", F.lit("D")).otherwise(F.lit("U"))
        )
        t.merge(c2, epoch=2)
        _LAKE_DEMO_CACHE[key] = loc
    else:
        t = LakeTable(spark, loc)
    return (
        t.snapshot()
        .select("user_id", "op_type", "event_id", "value_cents", "session_hint")
        .orderBy("user_id")
    )


ORACLE_SCHEMA_EVOLUTION = """
SELECT user_id,
       event_type AS op_type,
       event_id,
       CASE WHEN event_id % 2 = 1
            THEN CAST(FLOOR(value * 100) AS BIGINT) END AS value_cents,
       CASE WHEN event_id % 2 = 1
            THEN 'H' || CAST(event_id AS VARCHAR) END AS session_hint
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events)
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


def tumbling_window_counts(spark, sf_dir):
    """Event-time tumbling-window rollup (streaming/windowed.windowed_counts
    run on the bounded WAL): per-hour per-event-type counts. In streaming
    mode the same expression runs with a watermark; 1-hour epoch-aligned
    window starts equal date_trunc('hour') in the oracle."""
    from data_exchange_hl7_spark.streaming.windowed import windowed_counts

    ev = _t(spark, sf_dir, "events")
    return (
        windowed_counts(ev, ts_col="ts", keys=("event_type",), window="1 hour")
        .select(
            F.date_format("window_start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_WINDOW_COUNTS = """
SELECT STRFTIME(DATE_TRUNC('hour', ts), '{tsf}') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""".replace("{tsf}", TS_FMT_DUCK)


def streaming_dedup_batch(spark, sf_dir):
    """streaming/windowed.streaming_exact_dedup batch plan: exactly one
    deterministic survivor (min event_id) per duplicate-content group. The
    streaming variant keeps the same contract across micro-batches via
    applyInPandasWithState; this certifies the survivor rule itself."""
    from data_exchange_hl7_spark.streaming.windowed import streaming_exact_dedup

    ev = _t(spark, sf_dir, "events").withColumn(
        "message_hash", F.sha2(F.concat_ws("|", "user_id", "event_type"), 256)
    )
    return (
        streaming_exact_dedup(ev, hash_col="message_hash", tiebreak_cols=("event_id",))
        .select("message_hash", "event_id", "user_id", "event_type")
        .orderBy("message_hash")
    )


ORACLE_STREAM_DEDUP = """
SELECT message_hash, event_id, user_id, event_type
FROM (
  SELECT SHA256(CONCAT(user_id, '|', event_type)) AS message_hash,
         event_id, user_id, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY SHA256(CONCAT(user_id, '|', event_type))
           ORDER BY event_id) AS rn
  FROM events)
WHERE rn = 1
ORDER BY message_hash
"""


def interval_range_join(spark, sf_dir):
    """Keyless point-in-interval RANGE join via bin bucketing (the scalable
    plan for a join Spark would otherwise execute as a cross product):
    2-hour maintenance windows are synthesized from the event-time span
    (hour-aligned starts where epoch % 25200 == 0), each window explodes
    into its covered hour bins, points equi-join on their own hour bin, and
    exact containment filters after. Hash join end-to-end — no
    CartesianProduct / BroadcastNestedLoopJoin (plan-asserted)."""
    ev = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    wins = (
        ev.select(hour.alias("ws"))
        .distinct()
        .filter(F.unix_timestamp("ws") % 25200 == 0)
        .select("ws", (F.col("ws") + F.expr("INTERVAL 2 HOURS")).alias("we"))
    )
    bins = wins.select(
        "ws",
        "we",
        F.explode(
            F.sequence(
                F.col("ws"),
                F.col("we") - F.expr("INTERVAL 1 HOUR"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bin"),
    )
    pts = ev.select("event_id", "ts", hour.alias("bin"))
    j = pts.join(bins, "bin").filter(
        (F.col("ts") >= F.col("ws")) & (F.col("ts") < F.col("we"))
    )
    return (
        j.groupBy("ws", "we")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .select(
            F.date_format("ws", TS_FMT_SPARK).alias("window_start"),
            F.date_format("we", TS_FMT_SPARK).alias("window_end"),
            "n_events",
            "first_event",
            "last_event",
        )
        .orderBy("window_start")
    )


ORACLE_RANGE_JOIN = """
WITH hours AS (SELECT DISTINCT DATE_TRUNC('hour', ts) AS ws FROM events),
wins AS (
  SELECT ws, ws + INTERVAL 2 HOUR AS we
  FROM hours WHERE CAST(EPOCH(ws) AS BIGINT) % 25200 = 0),
j AS (
  SELECT w.ws, w.we, e.event_id
  FROM events e JOIN wins w ON e.ts >= w.ws AND e.ts < w.we)
SELECT STRFTIME(ws, '{tsf}') AS window_start,
       STRFTIME(we, '{tsf}') AS window_end,
       COUNT(*) AS n_events,
       MIN(event_id) AS first_event,
       MAX(event_id) AS last_event
FROM j GROUP BY ws, we ORDER BY window_start
""".replace("{tsf}", TS_FMT_DUCK)


def rebucket_read(spark, sf_dir):
    """Bucket-count evolution under the oracle gate: epoch 1 (the first LSN
    half) lands in a 4-bucket table, the table is rebucketed to 16, epoch 2
    (the second half) lands under the new layout — the final latest-per-user
    state must be byte-identical to a plain SQL replay over all events
    (`lake/table.py` rebucket()).

    Epochs split by LSN, not parity: a resolved rewrite (rebucket/compact)
    drops delete tombstones, which is sound only because real epochs are
    LSN-monotone — an upsert older than an applied delete can never arrive
    later. An out-of-order split here would resurrect deleted keys (and did,
    in an earlier draft of this query)."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    key = f"{sf_dir}::rebucket"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(loc)):
        loc = tempfile.mkdtemp(prefix="dex_lake_rebucket_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[("user_id", "bigint"), ("event_type", "string"), ("event_id", "bigint")],
            key_cols=["user_id"],
            n_buckets=4,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        mx = ev.agg(F.max("event_id")).collect()[0][0]  # metadata-sized
        for epoch, cond in (
            (1, F.col("event_id") * 2 <= mx),
            (2, F.col("event_id") * 2 > mx),
        ):
            half = ev.filter(cond)
            changes = latest_by_key(half, ["user_id"], ["event_id"]).withColumn(
                "__op",
                F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
            )
            t.merge(changes, epoch=epoch)
            if epoch == 1:
                t.rebucket(16, sort_cols=["user_id"], files_per_bucket=2)
        _LAKE_DEMO_CACHE[key] = loc
    else:
        t = LakeTable(spark, loc)
    return (
        t.snapshot()
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_REBUCKET = """
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events)
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


def zorder_read(spark, sf_dir):
    """Z-order clustering under the oracle gate (`LakeTable.compact
    (zorder_cols=...)`, the Delta OPTIMIZE ZORDER BY analogue): a
    composite-key (user_id, event_type) MoR table is compacted into many
    z-ordered files per bucket, then read with a TRAILING-key predicate —
    the case linear sort order cannot prune (every (user_id)-sorted file
    spans all event types) but z-order rectangles do. Values must equal a
    plain latest-per-(user, type) replay restricted to the predicate;
    tests/test_lake.py asserts the pruning itself (kept < total) so the
    gate certifies semantics and the plan test certifies the skip."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    key = f"{sf_dir}::zorder"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(loc)):
        loc = tempfile.mkdtemp(prefix="dex_lake_zorder_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id", "event_type"],
            n_buckets=2,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        changes = latest_by_key(
            ev, ["user_id", "event_type"], ["event_id"]
        ).withColumn("__op", F.lit("U"))
        t.merge(changes, epoch=1)
        t.compact(zorder_cols=["user_id", "event_type"], files_per_bucket=8)
        _LAKE_DEMO_CACHE[key] = loc
    else:
        t = LakeTable(spark, loc)
    return (
        t.snapshot(where=[("event_type", "=", "purchase")])
        .select("user_id", "event_type", F.col("event_id").alias("last_event_id"))
        .orderBy("user_id")
    )


ORACLE_ZORDER_READ = """
SELECT user_id, event_type, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY event_id DESC) AS rn
  FROM events)
WHERE rn = 1 AND event_type = 'purchase'
ORDER BY user_id
"""


def sliding_window_counts(spark, sf_dir):
    """Sliding event-time windows (3-hour window, 1-hour slide) through
    streaming/windowed.windowed_counts — each event lands in 3 overlapping
    windows. The oracle reproduces Spark's window assignment by generating
    the 3 covering window starts per event."""
    from data_exchange_hl7_spark.streaming.windowed import windowed_counts

    ev = _t(spark, sf_dir, "events")
    return (
        windowed_counts(
            ev, ts_col="ts", keys=("event_type",), window="3 hours", slide="1 hour"
        )
        .select(
            F.date_format("window_start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_SLIDING_WINDOWS = """
WITH assigned AS (
  SELECT e.event_type,
         DATE_TRUNC('hour', e.ts) - TO_HOURS(g.i) AS window_start
  FROM events e, GENERATE_SERIES(0, 2) AS g(i))
SELECT STRFTIME(window_start, '{tsf}') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM assigned
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""".replace("{tsf}", TS_FMT_DUCK)


def session_window_counts(spark, sf_dir):
    """Native mergeable session windows (streaming/windowed.session_counts,
    ``F.session_window``): per-user sessions with a 4-hour inactivity gap;
    ``session_end`` = last event + gap. Complements `sessionize` (the
    ordering-at-rest prefix-sum numbering): this is the bounded-state
    streaming-capable shape (section 2.9) — under a watermark the same
    expression finalizes sessions incrementally across micro-batches.

    The oracle replays Spark's merge rule as gaps-and-islands: each event
    opens [ts, ts+gap) and strictly-overlapping intervals merge, so a new
    island starts when the gap to the previous event is >= 4h. At sf0.01
    this yields 6,940 sessions of which 2,094 are multi-event — a real
    merge workload, not all singletons."""
    from data_exchange_hl7_spark.streaming.windowed import session_counts

    ev = _spread(_t(spark, sf_dir, "events"))
    return (
        session_counts(ev, ts_col="ts", keys=("user_id",), gap="4 hours")
        .select(
            "user_id",
            F.date_format("session_start", TS_FMT_SPARK).alias("session_start"),
            F.date_format("session_end", TS_FMT_SPARK).alias("session_end"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id", "session_start")
    )


ORACLE_SESSION_WINDOWS = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN EPOCH(ts) - LAG(EPOCH(ts)) OVER w IS NULL
                OR EPOCH(ts) - LAG(EPOCH(ts)) OVER w >= 14400 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g)
SELECT user_id,
       STRFTIME(MIN(ts), '{tsf}') AS session_start,
       STRFTIME(MAX(ts) + INTERVAL 4 HOUR, '{tsf}') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_start
""".replace("{tsf}", TS_FMT_DUCK)


def _derived_demo_wal(spark, sf_dir):
    """The shared derived-table demo WAL: two versions per `documents` row
    (INSERT of a 50-char preview at lsn 2i, then UPDATE to the full text —
    or DELETE for every 7th doc — at lsn 2i+1). Used by derived_file_stats
    and purge_cascade_read so both oracles describe the same feed."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        "doc_id",
        "lang",
        "text",
    )
    v1 = base.select(
        F.lit("INSERT").alias("op"),
        (F.col("doc_id") * 2).alias("lsn"),
        "repo",
        "path",
        "lang",
        F.substring("text", 1, 50).alias("content"),
    )
    v2 = base.select(
        F.when(F.col("doc_id") % 7 == 0, F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
        .alias("op"),
        (F.col("doc_id") * 2 + 1).alias("lsn"),
        "repo",
        "path",
        "lang",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("content"),
    )
    return (
        v1.unionByName(v2)
        .withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn")))
        .withColumn("new_path", F.lit(None).cast("string"))
        .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
        .withColumn("schema_field", F.lit(None).cast("string"))
        .withColumn(
            "supporting_metadata",
            F.create_map().cast("map<string,string>"),
        )
        .withColumn(
            "event_id",
            F.sha2(F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")), 256),
        )
    )


def derived_file_stats(spark, sf_dir):
    """Engine.derived_table under the oracle gate: the multi-output silver
    stage (reference writes json-lake + lake-of-segments containers alongside
    the primary table per batch — fn-hl7-json-lake/Function.kt and
    spikes/cbs-pipeline silver). A WAL synthesized from `documents` (two
    versions per doc, every 7th doc deleted) is applied through the REAL
    Engine.apply_epoch with a registered file_stats derived table; the
    derived snapshot must equal the per-key-latest stats DuckDB computes
    straight from `documents`.

    Scale shape: the derive is one projection over the epoch's persisted
    change frame + one keyed merge — never a second WAL pass; both tables
    commit per-epoch manifests (exactly-once across tables, crash between
    commits converges on resume — tests/test_e2e_apply.py)."""
    import tempfile

    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::derived"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "file_stats"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_derived_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
        eng.apply_epoch(
            _derived_demo_wal(spark, sf_dir), table, epoch=0, collect_metrics=False
        )
        _LAKE_DEMO_CACHE[key] = loc
    stats_t = LakeTable(spark, os.path.join(loc, "file_stats"))
    return (
        stats_t.snapshot()
        .select("repo", "path", "lang", "n_lines", "n_tokens", "content_sha256", "last_lsn")
        .orderBy("repo", "path")
    )


# TRIM set mirrors operators/normalize.py TRIM_SET (BOM + Java-regex \s)
ORACLE_DERIVED_FILE_STATS = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents)
SELECT source AS repo,
       'doc/' || CAST(doc_id AS VARCHAR) AS path,
       lang,
       CAST(len(string_split(b, chr(10))) AS INT) AS n_lines,
       CAST(len(list_filter(string_split(b, ' '), x -> len(x) > 0)) AS INT) AS n_tokens,
       sha256(b) AS content_sha256,
       CAST(doc_id * 2 + 1 AS BIGINT) AS last_lsn
FROM body
WHERE doc_id % 7 <> 0 AND len(b) > 0
ORDER BY repo, path
"""


def aggregate_repo_stats(spark, sf_dir):
    """Incremental aggregate materialized view under the oracle gate
    (Engine.aggregate_table, resolve='sum' lake table): a 2-epoch WAL
    synthesized from `documents` (epoch 0 INSERTs a 50-char preview, epoch 1
    UPDATEs to the full text or DELETEs every 7th doc) is applied through the
    real engine with a registered per-repo (n_files, total_bytes) view. The
    view accumulates per-epoch DELTAS (insert +1/+bytes, update 0/±bytes,
    delete -1/-bytes) and resolves by summing layers — its final state must
    equal the plain GROUP BY DuckDB computes from the surviving documents.

    Scale shape: deltas are O(changes) per epoch (pre-epoch state read is
    bucket-pruned + key-semi-joined), the additive merge appends O(#repos)
    rows, reads resolve with one hash agg, compaction folds partial sums —
    no read-modify-write anywhere."""
    import tempfile

    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::aggstats"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "repo_stats"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_agg_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
        docs = _t(spark, sf_dir, "documents")
        base = docs.select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )
        def _wal(df):
            return (
                df.withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn")))
                .withColumn("new_path", F.lit(None).cast("string"))
                .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
                .withColumn("schema_field", F.lit(None).cast("string"))
                .withColumn(
                    "supporting_metadata", F.create_map().cast("map<string,string>")
                )
                .withColumn(
                    "event_id",
                    F.sha2(
                        F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")), 256
                    ),
                )
            )

        v1 = _wal(
            base.select(
                F.lit("INSERT").alias("op"),
                (F.col("doc_id") * 2).alias("lsn"),
                "repo", "path", "lang",
                F.substring("text", 1, 50).alias("content"),
            )
        )
        v2 = _wal(
            base.select(
                F.when(F.col("doc_id") % 7 == 0, F.lit("DELETE"))
                .otherwise(F.lit("UPDATE"))
                .alias("op"),
                (F.col("doc_id") * 2 + 1).alias("lsn"),
                "repo", "path", "lang",
                F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
                .otherwise(F.col("text"))
                .alias("content"),
            )
        )
        eng.apply_epoch(v1, table, epoch=0, collect_metrics=False)
        eng.apply_epoch(v2, table, epoch=1, collect_metrics=False)
        _LAKE_DEMO_CACHE[key] = loc
    agg_t = LakeTable(spark, os.path.join(loc, "repo_stats"))
    return (
        agg_t.snapshot()
        .filter(F.col("n_files") > 0)  # all-zero rows = fully-retracted repos
        .select("repo", "n_files", "total_bytes")
        .orderBy("repo")
    )


ORACLE_AGGREGATE_REPO_STATS = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents)
SELECT source AS repo,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(len(b)) AS BIGINT) AS total_bytes
FROM body
WHERE doc_id % 7 <> 0 AND len(b) > 0
GROUP BY source
ORDER BY repo
"""


def incremental_minhash_index(spark, sf_dir):
    """Engine-maintained INCREMENTAL near-dup index under the oracle gate:
    a MinHash-signature derived table (engine.MINHASH_INDEX_SCHEMA /
    minhash_index_derive) kept in step with the main table across TWO real
    epochs — epoch 0 INSERTs a 50-char preview of every doc, epoch 1
    UPDATEs only doc_id%3==0 to the full text and DELETEs doc_id%7==0,
    leaving the rest untouched. The final index snapshot must equal the
    signatures DuckDB computes straight from each key's FINAL content —
    which certifies all three incremental behaviors at once: unchanged keys
    keep their epoch-0 signatures (never recomputed), updated keys are
    re-signed from the new content, deleted keys leave no row.

    Scale shape: the derive is a per-row array expression over the epoch's
    persisted change frame (no explode, no shuffle, no second WAL pass);
    the index merge is O(changes) keyed like the main table. Dedup at
    10^10 events runs LSH over THIS index — the corpus text never
    re-shuffles after ingest."""
    import tempfile

    from data_exchange_hl7_spark.engine import (
        MINHASH_INDEX_SCHEMA,
        Engine,
        minhash_index_derive,
    )
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::mhindex"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "minhash_index"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_mhidx_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        eng.derived_table("minhash_index", MINHASH_INDEX_SCHEMA, minhash_index_derive)
        base = _t(spark, sf_dir, "documents").select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )

        def _wal(frame):
            return (
                frame.withColumn(
                    "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn"))
                )
                .withColumn("new_path", F.lit(None).cast("string"))
                .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
                .withColumn("schema_field", F.lit(None).cast("string"))
                .withColumn(
                    "supporting_metadata", F.create_map().cast("map<string,string>")
                )
                .withColumn(
                    "event_id",
                    F.sha2(
                        F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")),
                        256,
                    ),
                )
            )

        v1 = base.select(
            F.lit("INSERT").alias("op"),
            (F.col("doc_id") * 2).alias("lsn"),
            "repo",
            "path",
            "lang",
            F.substring("text", 1, 50).alias("content"),
        )
        v2 = base.filter((F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 7 == 0)).select(
            F.when(F.col("doc_id") % 7 == 0, F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("op"),
            (F.col("doc_id") * 2 + 1).alias("lsn"),
            "repo",
            "path",
            "lang",
            F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("text"))
            .alias("content"),
        )
        eng.apply_epoch(_wal(v1), table, epoch=0, collect_metrics=False)
        eng.apply_epoch(_wal(v2), table, epoch=1, collect_metrics=False)
        _LAKE_DEMO_CACHE[key] = loc
    idx = LakeTable(spark, os.path.join(loc, "minhash_index"))
    return (
        idx.snapshot()
        .select("repo", "path", "mh0", "mh1", "mh2", "mh3", "last_lsn")
        .orderBy("repo", "path")
    )


# Final per-key content: full text where doc_id%3==0, else the 50-char
# preview; doc_id%7==0 deleted. TRIM mirrors operators/normalize.py TRIM_SET
# (the engine cleans content before it reaches the change frame).
ORACLE_MINHASH_INDEX = """
WITH fin AS (
  SELECT doc_id, source,
         TRIM(CASE WHEN doc_id % 3 = 0 THEN text ELSE SUBSTR(text, 1, 50) END,
              chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b,
         CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id * 2 + 1
                   ELSE doc_id * 2 END AS BIGINT) AS last_lsn
  FROM documents WHERE doc_id % 7 <> 0),
sh AS (
  SELECT doc_id, source, last_lsn,
         CASE WHEN len(list_filter(string_split(b, ' '), x -> len(x) > 0)) >= 3
              THEN list_transform(
                     generate_series(1, len(list_filter(string_split(b, ' '), x -> len(x) > 0)) - 2),
                     i -> list_filter(string_split(b, ' '), x -> len(x) > 0)[i] || ' ' ||
                          list_filter(string_split(b, ' '), x -> len(x) > 0)[i+1] || ' ' ||
                          list_filter(string_split(b, ' '), x -> len(x) > 0)[i+2])
              ELSE [] END AS shingles
  FROM fin WHERE len(b) > 0)
SELECT source AS repo,
       'doc/' || CAST(doc_id AS VARCHAR) AS path,
       list_min(list_transform(shingles, s -> md5(s || ':0'))) AS mh0,
       list_min(list_transform(shingles, s -> md5(s || ':1'))) AS mh1,
       list_min(list_transform(shingles, s -> md5(s || ':2'))) AS mh2,
       list_min(list_transform(shingles, s -> md5(s || ':3'))) AS mh3,
       last_lsn
FROM sh ORDER BY repo, path
"""


def index_dup_candidates(spark, sf_dir):
    """Dedup-the-delta-against-the-corpus, the operation a 10^10-event
    pipeline actually runs per epoch: keys changed in the LAST epoch (read
    from the index table's change data feed — no main-table access) are
    LSH-banded and matched against the FULL MinHash index for near-dup
    candidates. Emits one (changed_path, other_path) row per banded hit.

    Demo replay: epoch 0 INSERTs every doc (doc_id%10==8 carry a shared
    'dup family' body keyed by doc_id%30); epoch 1 UPDATEs doc_id%10==9 to
    the NEIGHBOR family body ((doc_id-1)%30) and DELETEs doc_id%10==4 — so
    each changed doc must match the unchanged epoch-0 members of its
    family (and its co-changed siblings), deleted keys appear on neither
    side, and everything else matches nothing.

    Scale shape: the delta side is one epoch's keys — tiny next to the
    corpus — so its 4 band rows per key BROADCAST (plan-asserted) and the
    index scan never shuffles; cost is O(index) scan + O(delta x bucket)
    matches, not O(corpus^2) and not a corpus re-sketch. Signatures come
    from the incrementally-maintained index on both sides; document text is
    never touched."""
    import tempfile

    from data_exchange_hl7_spark.engine import (
        MINHASH_INDEX_SCHEMA,
        Engine,
        minhash_index_derive,
    )
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::mhidx_delta"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "minhash_index"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_mhdelta_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        eng.derived_table("minhash_index", MINHASH_INDEX_SCHEMA, minhash_index_derive)
        base = _t(spark, sf_dir, "documents").select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )
        fam = lambda k: F.concat(  # noqa: E731 — shared dup-family body
            F.lit("dup family "), k.cast("string"),
            F.lit(" shares this exact content body text"),
        )

        def _wal(frame):
            return (
                frame.withColumn(
                    "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn"))
                )
                .withColumn("new_path", F.lit(None).cast("string"))
                .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
                .withColumn("schema_field", F.lit(None).cast("string"))
                .withColumn(
                    "supporting_metadata", F.create_map().cast("map<string,string>")
                )
                .withColumn(
                    "event_id",
                    F.sha2(
                        F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")),
                        256,
                    ),
                )
            )

        v1 = base.select(
            F.lit("INSERT").alias("op"),
            (F.col("doc_id") * 2).alias("lsn"),
            "repo",
            "path",
            "lang",
            F.when(F.col("doc_id") % 10 == 8, fam(F.col("doc_id") % 30))
            .otherwise(F.col("text"))
            .alias("content"),
        )
        v2 = base.filter(
            (F.col("doc_id") % 10 == 9) | (F.col("doc_id") % 10 == 4)
        ).select(
            F.when(F.col("doc_id") % 10 == 4, F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("op"),
            (F.col("doc_id") * 2 + 1).alias("lsn"),
            "repo",
            "path",
            "lang",
            F.when(F.col("doc_id") % 10 == 4, F.lit(None).cast("string"))
            .otherwise(fam((F.col("doc_id") - 1) % 30))
            .alias("content"),
        )
        eng.apply_epoch(_wal(v1), table, epoch=0, collect_metrics=False)
        eng.apply_epoch(_wal(v2), table, epoch=1, collect_metrics=False)
        _LAKE_DEMO_CACHE[key] = loc
    idx = LakeTable(spark, os.path.join(loc, "minhash_index"))

    def _bands(df):
        rows = [
            df.select("path", F.lit(b).alias("band"), F.col(f"mh{b}").alias("sig"))
            for b in range(4)
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out.filter(F.col("sig").isNotNull())

    # delta side: last epoch's upserts, straight off the index table's CDF
    changed = _bands(
        idx.changes_between(1).filter(F.col("_change_type") == "U")
    )
    return (
        _bands(idx.snapshot())
        .withColumnRenamed("path", "other_path")
        .join(
            F.broadcast(changed.withColumnRenamed("path", "changed_path")),
            ["band", "sig"],
        )
        .filter(F.col("other_path") != F.col("changed_path"))
        .select("changed_path", "other_path")
        .distinct()
        .orderBy("changed_path", "other_path")
    )


# Final content per key (doc_id%10==4 deleted): %10==9 -> family body of
# (doc_id-1)%30, %10==8 -> family body of doc_id%30, else original text.
# Changed set = the %10==9 upserts from epoch 1.
ORACLE_INDEX_DUP_CANDIDATES = """
WITH fin AS (
  SELECT doc_id,
         'doc/' || CAST(doc_id AS VARCHAR) AS path,
         TRIM(CASE
           WHEN doc_id % 10 = 9 THEN 'dup family ' || CAST((doc_id - 1) % 30 AS VARCHAR) || ' shares this exact content body text'
           WHEN doc_id % 10 = 8 THEN 'dup family ' || CAST(doc_id % 30 AS VARCHAR) || ' shares this exact content body text'
           ELSE text END,
           chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents WHERE doc_id % 10 <> 4),
sh AS (
  SELECT doc_id, path,
         CASE WHEN len(list_filter(string_split(b, ' '), x -> len(x) > 0)) >= 3
              THEN list_transform(
                     generate_series(1, len(list_filter(string_split(b, ' '), x -> len(x) > 0)) - 2),
                     i -> list_filter(string_split(b, ' '), x -> len(x) > 0)[i] || ' ' ||
                          list_filter(string_split(b, ' '), x -> len(x) > 0)[i+1] || ' ' ||
                          list_filter(string_split(b, ' '), x -> len(x) > 0)[i+2])
              ELSE [] END AS shingles
  FROM fin WHERE len(b) > 0),
sig AS (
  SELECT doc_id, path,
         list_min(list_transform(shingles, s -> md5(s || ':0'))) AS mh0,
         list_min(list_transform(shingles, s -> md5(s || ':1'))) AS mh1,
         list_min(list_transform(shingles, s -> md5(s || ':2'))) AS mh2,
         list_min(list_transform(shingles, s -> md5(s || ':3'))) AS mh3
  FROM sh),
bands AS (
  SELECT doc_id, path, 0 AS band, mh0 AS s FROM sig WHERE mh0 IS NOT NULL
  UNION ALL SELECT doc_id, path, 1, mh1 FROM sig WHERE mh1 IS NOT NULL
  UNION ALL SELECT doc_id, path, 2, mh2 FROM sig WHERE mh2 IS NOT NULL
  UNION ALL SELECT doc_id, path, 3, mh3 FROM sig WHERE mh3 IS NOT NULL)
SELECT DISTINCT c.path AS changed_path, o.path AS other_path
FROM bands c JOIN bands o ON c.band = o.band AND c.s = o.s
WHERE c.doc_id % 10 = 9 AND o.path <> c.path
ORDER BY changed_path, other_path
"""


# ------------------- generalized multi-clause MERGE INTO -------------------

_MERGE_MULTI_CACHE: dict[str, str] = {}


def merge_multi_read(spark, sf_dir):
    """Generalized multi-clause MERGE INTO under the oracle gate
    (`LakeTable.merge_into` — Delta/Iceberg `MERGE INTO ... WHEN MATCHED
    [AND cond] UPDATE/DELETE, WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY
    SOURCE UPDATE/DELETE` parity, reference K3's conditional keyed apply
    generalized to the full SQL clause set).

    Epoch 1 loads the parity-0 per-user winners (hits=1). Epoch 2 is ONE
    merge_into of the parity-1 winners exercising all five clause kinds
    with first-match-wins ordering:
      matched:   source 'error'        -> DELETE
                 s.event_id > t.event_id -> UPDATE (take source, hits+1)
                 (older source rows fall through: target untouched)
      not matched: non-'error' source  -> INSERT (hits=1); 'error' dropped
      not matched by source: t.event_id % 10 = 3 -> DELETE
                 otherwise             -> UPDATE event_type='carried'
    The oracle replays the identical clause algebra as a FULL OUTER JOIN +
    CASE in DuckDB. The compiled change frame rides the normal exactly-once
    merge, so the result also certifies epoch idempotency and CDF
    visibility of clause-driven deletes.

    Scale shape: the NOT MATCHED BY SOURCE clauses force the inherent full
    target classification; without them merge_into reads the target via
    snapshot(keys_in=source keys) — the changed-key semi join below the MoR
    resolve — so cost tracks the source delta, never table size."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _MERGE_MULTI_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_merge_multi_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
                ("hits", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        e0 = latest_by_key(
            ev.filter(F.col("event_id") % 2 == 0), ["user_id"], ["event_id"]
        )
        t.merge(
            e0.withColumn("hits", F.lit(1).cast("bigint")).withColumn(
                "__op", F.lit("U")
            ),
            epoch=1,
        )
        e1 = latest_by_key(
            ev.filter(F.col("event_id") % 2 == 1), ["user_id"], ["event_id"]
        )
        t.merge_into(
            e1,
            when_matched=[
                {"condition": "s.event_type = 'error'", "action": "delete"},
                {
                    "condition": "s.event_id > t.event_id",
                    "action": "update",
                    "set": {
                        "event_type": "s.event_type",
                        "event_id": "s.event_id",
                        "hits": "t.hits + 1",
                    },
                },
            ],
            when_not_matched=[
                {
                    "condition": "s.event_type <> 'error'",
                    "values": {
                        "user_id": "s.user_id",
                        "event_type": "s.event_type",
                        "event_id": "s.event_id",
                        "hits": "CAST(1 AS BIGINT)",
                    },
                },
            ],
            when_not_matched_by_source=[
                {"condition": "t.event_id % 10 = 3", "action": "delete"},
                {
                    "condition": None,
                    "action": "update",
                    "set": {"event_type": "'carried'"},
                },
            ],
            epoch=2,
        )
        _MERGE_MULTI_CACHE[sf_dir] = loc
    return (
        t.snapshot()
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
            "hits",
        )
        .orderBy("user_id")
    )


ORACLE_MERGE_MULTI = """
WITH e0 AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
e1 AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 1) WHERE rn = 1),
j AS (
  SELECT t.user_id AS t_uid, t.event_type AS t_type, t.event_id AS t_eid,
         s.user_id AS s_uid, s.event_type AS s_type, s.event_id AS s_eid
  FROM e0 t FULL OUTER JOIN e1 s ON t.user_id = s.user_id)
SELECT CAST(COALESCE(t_uid, s_uid) AS BIGINT) AS user_id,
       CASE WHEN t_uid IS NOT NULL AND s_uid IS NOT NULL THEN
              CASE WHEN s_eid > t_eid THEN s_type ELSE t_type END
            WHEN t_uid IS NULL THEN s_type
            ELSE 'carried' END AS last_op,
       CAST(CASE WHEN t_uid IS NOT NULL AND s_uid IS NOT NULL THEN
              CASE WHEN s_eid > t_eid THEN s_eid ELSE t_eid END
            WHEN t_uid IS NULL THEN s_eid
            ELSE t_eid END AS BIGINT) AS last_event_id,
       CAST(CASE WHEN t_uid IS NOT NULL AND s_uid IS NOT NULL
                      AND s_eid > t_eid THEN 2
            ELSE 1 END AS BIGINT) AS hits
FROM j
WHERE NOT (t_uid IS NOT NULL AND s_uid IS NOT NULL AND s_type = 'error')
  AND NOT (t_uid IS NULL AND s_type = 'error')
  AND NOT (s_uid IS NULL AND t_eid % 10 = 3)
ORDER BY user_id
"""


# ------------------- MERGE INTO lineage cascade ----------------------------


def merge_cascade_read(spark, sf_dir):
    """Engine.merge_into's derived-table cascade under the oracle gate: the
    shared derived-table demo WAL (epoch 0 through the real
    Engine.apply_epoch with file_stats registered), then ONE multi-clause
    MERGE INTO as epoch 1 — source rows for every doc_id % 5 == 2, matched
    rows with last_lsn % 4 == 1 deleted, the rest updated to new content —
    and the query reads the DERIVED file_stats table, not the main one.
    Its state must equal DuckDB's replay of the clause algebra: deleted
    keys absent, updated keys re-derived from the MERGED content (n_lines,
    n_tokens, sha256 all recomputed), untouched keys intact. This is the
    purge_cascade contract generalized from tombstones to arbitrary merge
    clauses.

    Scale shape: one compile join (target side keys_in-restricted — no NOT
    MATCHED BY SOURCE clause), then the same O(changes) keyed merges on
    both tables with per-table epoch manifests."""
    import tempfile

    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::mergecascade"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "file_stats"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_mergecascade_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
        eng.apply_epoch(
            _derived_demo_wal(spark, sf_dir), table, epoch=0, collect_metrics=False
        )
        src = (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 5 == 2)
            .select(
                F.col("source").alias("repo"),
                F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias(
                    "path"
                ),
                F.concat(F.lit("MERGED:"), F.col("doc_id").cast("string")).alias(
                    "content"
                ),
            )
        )
        eng.merge_into(
            table,
            src,
            when_matched=[
                {"condition": "t.last_lsn % 4 = 1", "action": "delete"},
                {
                    "condition": None,
                    "action": "update",
                    "set": {
                        "content": "s.content",
                        "content_sha256": "sha2(s.content, 256)",
                        "size_bytes": "length(s.content)",
                    },
                },
            ],
            epoch=1,
        )
        _LAKE_DEMO_CACHE[key] = loc
    stats_t = LakeTable(spark, os.path.join(loc, "file_stats"))
    return (
        stats_t.snapshot()
        .select(
            "repo", "path", "lang", "n_lines", "n_tokens", "content_sha256", "last_lsn"
        )
        .orderBy("repo", "path")
    )


# matched rows: last_lsn = 2*doc_id + 1, so last_lsn % 4 == 1 <=> doc_id
# even -> deleted; odd doc_id % 5 == 2 rows update to the MERGED content
# (1 line, 1 token, fresh sha); unmatched source rows (docs absent from the
# main table) are dropped — no insert clause.
ORACLE_MERGE_CASCADE = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents),
base AS (
  SELECT source AS repo,
         'doc/' || CAST(doc_id AS VARCHAR) AS path,
         lang, b, doc_id,
         CAST(doc_id * 2 + 1 AS BIGINT) AS last_lsn
  FROM body WHERE doc_id % 7 <> 0 AND len(b) > 0)
SELECT repo, path, lang,
       CAST(CASE WHEN doc_id % 5 = 2 AND doc_id % 2 = 1 THEN 1
            ELSE len(string_split(b, chr(10))) END AS INT) AS n_lines,
       CAST(CASE WHEN doc_id % 5 = 2 AND doc_id % 2 = 1 THEN 1
            ELSE len(list_filter(string_split(b, ' '), x -> len(x) > 0))
            END AS INT) AS n_tokens,
       CASE WHEN doc_id % 5 = 2 AND doc_id % 2 = 1
            THEN sha256('MERGED:' || CAST(doc_id AS VARCHAR))
            ELSE sha256(b) END AS content_sha256,
       last_lsn
FROM base
WHERE NOT (doc_id % 5 = 2 AND doc_id % 2 = 0)
ORDER BY repo, path
"""


# ------------------- streaming transaction holdback ------------------------


def stream_txn_gate_read(spark, sf_dir):
    """The STREAMING half of the transaction gate under the oracle gate
    (`stream_apply(txn_boundaries=True)` — cross-poll holdback via the
    pending sidecar): the two-version documents WAL is stamped with
    Debezium transaction metadata (9-consecutive-lsn transactions, declared
    counts over the full set, every lsn % 173 == 0 event withheld to
    truncate its transaction), split into two file groups by doc id, and
    drained by TWO availableNow runs with a maxFilesPerTrigger rate limit —
    so transactions straddle both micro-batch boundaries within a drain AND
    the poll boundary between drains. The final state must equal DuckDB's
    committed-subset algebra: per-key latest among events of complete
    transactions only, DELETE winners absent, empty-content events
    structure-rejected. Incomplete (truncated) transactions never land.

    Scale shape: per micro-batch one O(batch + pending) count/max agg and
    two semi/anti joins against the open-transaction ids; the pending
    sidecar holds only incomplete-transaction events, which a bounded
    transaction span keeps O(span), never O(stream)."""
    import tempfile

    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.streaming.stream_ingest import stream_apply
    from data_exchange_hl7_spark.streaming.txn_gate import (
        TXN_EVENTS_KEY,
        TXN_ID_KEY,
    )

    key = f"{sf_dir}::stream_txn_gate"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "repo_files"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_streamtxn_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        docs = _t(spark, sf_dir, "documents")
        base = docs.select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )
        v1 = base.select(
            F.lit("INSERT").alias("op"),
            (F.col("doc_id") * 2).alias("lsn"),
            "repo", "path", "doc_id", "lang",
            F.substring("text", 1, 50).alias("content"),
        )
        v2 = base.select(
            F.when(F.col("doc_id") % 7 == 0, F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("op"),
            (F.col("doc_id") * 2 + 1).alias("lsn"),
            "repo", "path", "doc_id", "lang",
            F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("text"))
            .alias("content"),
        )
        ev = v1.unionByName(v2).withColumn(
            "__tid", (F.col("lsn") / 9).cast("long")
        )
        declared = ev.groupBy("__tid").agg(F.count(F.lit(1)).alias("__n"))
        ev = (
            ev.join(declared, "__tid")
            .withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn")))
            .withColumn("new_path", F.lit(None).cast("string"))
            .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
            .withColumn("schema_field", F.lit(None).cast("string"))
            .withColumn(
                "supporting_metadata",
                F.create_map(
                    F.lit(TXN_ID_KEY), F.col("__tid").cast("string"),
                    F.lit(TXN_EVENTS_KEY), F.col("__n").cast("string"),
                ),
            )
            .withColumn(
                "event_id",
                F.sha2(
                    F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")), 256
                ),
            )
            .filter(F.col("lsn") % 173 != 0)  # truncate those transactions
        )
        mid = docs.agg((F.max("doc_id") / 2).cast("long")).collect()[0][0]
        src = os.path.join(loc, "wal_stream")
        ckpt = os.path.join(loc, "ckpt")
        g1 = ev.filter(F.col("doc_id") < mid).drop("doc_id", "__tid", "__n")
        g2 = ev.filter(F.col("doc_id") >= mid).drop("doc_id", "__tid", "__n")
        g1.repartition(4).write.mode("overwrite").parquet(src)
        q = stream_apply(
            spark, eng, src, table, ckpt,
            max_files_per_trigger=2, txn_boundaries=True,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("first streaming drain did not finish in 300s")
        g2.repartition(4).write.mode("append").parquet(src)
        q2 = stream_apply(
            spark, eng, src, table, ckpt,
            max_files_per_trigger=2, txn_boundaries=True,
        )
        if not q2.awaitTermination(300):
            q2.stop()
            raise RuntimeError("second streaming drain did not finish in 300s")
        assert len(table.committed_epochs()) >= 3, table.committed_epochs()
        _LAKE_DEMO_CACHE[key] = loc
    table = LakeTable(spark, os.path.join(loc, "repo_files"))
    return (
        table.snapshot()
        .select("repo", "path", "size_bytes", "last_lsn")
        .orderBy("repo", "path")
    )


# committed transaction = a 9-lsn block that lost no member to the % 173
# truncation. Winner per key = latest kept event; DELETE winners absent;
# empty-content INSERT/UPDATE events are structure-rejected (never apply),
# matching the engine's validation branch.
ORACLE_STREAM_TXN_GATE = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents),
ev AS (
  SELECT source AS repo, 'doc/' || CAST(doc_id AS VARCHAR) AS path,
         CAST(doc_id * 2 AS BIGINT) AS lsn, 'INSERT' AS op,
         TRIM(SUBSTR(text, 1, 50), chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM body
  UNION ALL
  SELECT source, 'doc/' || CAST(doc_id AS VARCHAR),
         CAST(doc_id * 2 + 1 AS BIGINT),
         CASE WHEN doc_id % 7 = 0 THEN 'DELETE' ELSE 'UPDATE' END,
         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE b END
  FROM body),
lost AS (
  SELECT DISTINCT lsn // 9 AS tid FROM ev WHERE lsn % 173 = 0),
kept AS (
  SELECT * FROM ev
  WHERE lsn % 173 <> 0
    AND lsn // 9 NOT IN (SELECT tid FROM lost)
    AND (op = 'DELETE' OR len(COALESCE(b, '')) > 0)),
w AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM kept)
SELECT repo, path, CAST(len(b) AS INT) AS size_bytes, lsn AS last_lsn
FROM w
WHERE rn = 1 AND op <> 'DELETE'
ORDER BY repo, path
"""


# ------------------- commit summaries (snapshot metadata) ------------------

_COMMIT_SUMMARY_CACHE: dict[str, list] = {}


def commit_summary_read(spark, sf_dir):
    """Per-commit summaries under the oracle gate (the Iceberg
    snapshot-summary analogue recorded at every `_write_snapshot`): the
    standard 2-epoch MoR demo, then each merge commit's `added_records`
    read from `meta_snapshots()` — pure manifest metadata — must equal
    DuckDB's semantic recomputation of that epoch's change volume (one
    winner row per distinct key in the epoch's parity class, U and D alike:
    tombstones are physical delta rows too). Certifies that the summary is
    derived from real write volume, not an estimate; the frame is built
    driver-side from two metadata scalars (that is the point)."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    rows = _COMMIT_SUMMARY_CACHE.get(sf_dir)
    if not rows:
        loc = tempfile.mkdtemp(prefix="dex_commitsummary_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        for epoch, parity in ((1, 0), (2, 1)):
            half = ev.filter(F.col("event_id") % 2 == parity)
            changes = latest_by_key(half, ["user_id"], ["event_id"]).withColumn(
                "__op",
                F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
            )
            t.merge(changes, epoch=epoch)
        by_sid = {r["snapshot_id"]: r for r in t.meta_snapshots().collect()}
        rows = [
            ("epoch_1", int(by_sid[1]["added_records"])),
            ("epoch_2", int(by_sid[2]["added_records"])),
        ]
        _COMMIT_SUMMARY_CACHE[sf_dir] = rows
    return spark.createDataFrame(
        rows, "label string, added_records bigint"
    ).orderBy("label")


ORACLE_COMMIT_SUMMARY = """
SELECT 'epoch_1' AS label,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS added_records
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT 'epoch_2', CAST(COUNT(DISTINCT user_id) AS BIGINT)
FROM events WHERE event_id % 2 = 1
ORDER BY label
"""


# ------------------- metadata-only COUNT(*) --------------------------------

_COUNT_META_CACHE: dict[str, tuple] = {}


def count_meta_read(spark, sf_dir):
    """Metadata-only COUNT(*) under the oracle gate (`LakeTable.count_rows`
    — Iceberg record_count semantics): the standard 2-epoch MoR demo, the
    row count taken BEFORE compaction (delta layers present -> the exact
    read path must answer) and AFTER (physical rows == logical rows -> the
    manifest walk must answer, zero data files opened). Both counts AND
    which path answered are pinned by the oracle: the values must equal
    DuckDB's COUNT over the latest-per-key non-tombstone algebra, and the
    metadata_only flags are part of the hashed frame, so a regression that
    silently flips the fast path red-flags the gate.

    The output frame is built driver-side from two scalars — metadata-
    bounded by construction (that is the point of the operator)."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    key = sf_dir
    cached = _COUNT_META_CACHE.get(key)
    if not cached:
        loc = tempfile.mkdtemp(prefix="dex_countmeta_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        for epoch, parity in ((1, 0), (2, 1)):
            half = ev.filter(F.col("event_id") % 2 == parity)
            changes = latest_by_key(half, ["user_id"], ["event_id"]).withColumn(
                "__op",
                F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
            )
            t.merge(changes, epoch=epoch)
        n_pre, m_pre = t.count_rows()
        t.compact()
        n_post, m_post = t.count_rows()
        cached = (n_pre, m_pre, n_post, m_post)
        _COUNT_META_CACHE[key] = cached
    n_pre, m_pre, n_post, m_post = cached
    return spark.createDataFrame(
        [
            ("exact_path_pre_compact", n_pre, 1 if m_pre else 0),
            ("metadata_path_post_compact", n_post, 1 if m_post else 0),
        ],
        "label string, n_rows bigint, metadata_only bigint",
    ).orderBy("label")


ORACLE_COUNT_META = """
WITH live AS (
  SELECT user_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events)
  WHERE rn = 1 AND event_type <> 'error')
SELECT 'exact_path_pre_compact' AS label,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS metadata_only
FROM live
UNION ALL
SELECT 'metadata_path_post_compact',
       CAST(COUNT(*) AS BIGINT),
       CAST(1 AS BIGINT)
FROM live
ORDER BY label
"""


# ------------------- column initial-defaults (schema evolution) ------------

_COLDEFAULT_CACHE: dict[str, str] = {}


def column_default_read(spark, sf_dir):
    """Iceberg-v3 ``initial-default`` semantics under the oracle gate
    (`LakeTable.add_column(default=...)`): epoch 1 lands the parity-0
    per-user winners, THEN a `tier` column is added with default 'legacy',
    then epoch 2 lands parity-1 winners carrying explicit tiers. The final
    MoR latest-per-user resolution must read 'legacy' for every key whose
    winning row lives in a pre-addition file and the explicit tier
    otherwise — the field-id projection fills the default, not NULL, for
    files written before the column existed. The oracle replays the same
    algebra by unioning the epoch-1 winners with a constant tier.

    Scale shape: the default is a literal in the per-file projection —
    zero data movement, no rewrite until the next compaction materializes
    it physically."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _COLDEFAULT_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_coldefault_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        e0 = latest_by_key(
            ev.filter(F.col("event_id") % 2 == 0), ["user_id"], ["event_id"]
        )
        t.merge(e0.withColumn("__op", F.lit("U")), epoch=1)
        t.add_column("tier", "string", default="legacy")
        e1 = latest_by_key(
            ev.filter(F.col("event_id") % 2 == 1), ["user_id"], ["event_id"]
        ).withColumn("tier", F.concat(F.col("event_type"), F.lit("-t")))
        t.merge(e1.withColumn("__op", F.lit("U")), epoch=2)
        _COLDEFAULT_CACHE[sf_dir] = loc
    return (
        t.snapshot()
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            "tier",
        )
        .orderBy("user_id")
    )


ORACLE_COLUMN_DEFAULT = """
WITH e0 AS (
  SELECT user_id, event_type, event_id, 'legacy' AS tier FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
e1 AS (
  SELECT user_id, event_type, event_id, event_type || '-t' AS tier FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 1) WHERE rn = 1)
SELECT user_id, event_id AS last_event_id, tier
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM (SELECT * FROM e0 UNION ALL SELECT * FROM e1))
WHERE rn = 1
ORDER BY user_id
"""


# ------------------- transaction-boundary-gated apply ----------------------

_TXN_GATE_CACHE: dict[str, str] = {}


def txn_gate_read(spark, sf_dir):
    """Source-transaction-aware CDC apply under the oracle gate
    (`streaming/txn_gate.py` — Debezium transaction-metadata semantics: an
    event applies only once its whole producer transaction is visible, in
    the epoch of the transaction's commit position; incomplete/aborted
    transactions never land. Reference analogue: the HL7 batch envelope's
    BHS/BTS completeness contract, D2/D3, lifted from one batch file to a
    WAL transaction spanning micro-batches).

    Fixture: events grouped into transactions by event_id // 8, each event
    carrying the transaction's declared size computed over the FULL event
    set; events with event_id % 97 == 0 are then withheld (a producer crash
    mid-transaction), so every transaction containing one becomes
    incomplete and must not apply at all. The visible events run through
    gate_transactions and a 2-epoch merge loop sliced on the assigned
    apply lsn. The oracle recomputes committed transactions (observed
    count == declared count) and takes the per-user latest event among
    their events only.

    Scale shape: one mergeable count/max agg builds the O(#transactions)
    dim; apply-lsn assignment is a join co-partitioned on txn_id; epoch
    slices keep the sound `lsn < hi` scan pushdown below the join."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key
    from data_exchange_hl7_spark.streaming.txn_gate import (
        APPLY_LSN,
        gate_transactions,
    )

    loc = _TXN_GATE_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_txn_gate_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        full = (
            _t(spark, sf_dir, "events")
            .select("user_id", "event_type", "event_id")
            .withColumn("txn_id", (F.col("event_id") / 8).cast("bigint"))
        )
        declared = full.groupBy("txn_id").agg(
            F.count(F.lit(1)).alias("txn_events")
        )
        observed = full.filter(F.col("event_id") % 97 != 0)
        src = observed.join(declared, "txn_id")
        gated, _dim = gate_transactions(
            src, "txn_id", "txn_events", lsn_col="event_id"
        )
        bounds = gated.agg(F.max(APPLY_LSN)).collect()[0]
        mid = (int(bounds[0]) // 2) + 1
        for epoch, (lo, hi) in enumerate(
            ((0, mid), (mid, int(bounds[0]) + 1)), start=1
        ):
            sl = gated.filter(
                (F.col(APPLY_LSN) >= lo) & (F.col(APPLY_LSN) < hi)
            ).drop(APPLY_LSN, "txn_id", "txn_events")
            changes = latest_by_key(sl, ["user_id"], ["event_id"]).withColumn(
                "__op", F.lit("U")
            )
            t.merge(changes, epoch=epoch)
        _TXN_GATE_CACHE[sf_dir] = loc
    return (
        t.snapshot()
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_TXN_GATE = """
WITH full_set AS (
  SELECT user_id, event_type, event_id,
         CAST(FLOOR(event_id / 8) AS BIGINT) AS txn_id
  FROM events),
declared AS (
  SELECT txn_id, COUNT(*) AS n_declared FROM full_set GROUP BY txn_id),
observed AS (
  SELECT * FROM full_set WHERE event_id % 97 <> 0),
committed AS (
  SELECT o.txn_id
  FROM (SELECT txn_id, COUNT(*) AS n_seen FROM observed GROUP BY txn_id) o
  JOIN declared d ON o.txn_id = d.txn_id
  WHERE o.n_seen = d.n_declared),
kept AS (
  SELECT o.user_id, o.event_type, o.event_id
  FROM observed o JOIN committed c ON o.txn_id = c.txn_id)
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM kept)
WHERE rn = 1
ORDER BY user_id
"""


# ------------------- row-level delete (takedown / purge) -------------------

_PURGE_DEMO_CACHE: dict[str, str] = {}


def purge_read(spark, sf_dir):
    """Row-level DELETE under the oracle gate (`LakeTable.delete_where` —
    the takedown/purge primitive a code corpus needs for copyright/PII
    removal requests): build the standard 2-epoch MoR demo table, purge
    every user_id >= 80 as epoch 3, read the final state. Values must equal
    the unpurged latest-per-user state restricted to user_id < 80 — the
    tombstones ride the same exactly-once merge as CDC deletes (idempotent
    replay, CDF-visible, time-travel preserves the pre-purge state until
    compact+expire physically remove it)."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _PURGE_DEMO_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_purge_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        for epoch, parity in ((1, 0), (2, 1)):
            half = ev.filter(F.col("event_id") % 2 == parity)
            changes = latest_by_key(half, ["user_id"], ["event_id"]).withColumn(
                "__op",
                F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
            )
            t.merge(changes, epoch=epoch)
        t.delete_where("user_id >= 80", epoch=3)
        _PURGE_DEMO_CACHE[sf_dir] = loc
    return (
        t.snapshot()
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_PURGE_READ = """
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events)
WHERE rn = 1 AND event_type <> 'error' AND user_id < 80
ORDER BY user_id
"""


# ------------------- write-time CHECK constraints (quarantine) -------------

_CONSTRAINT_DEMO_CACHE: dict[str, str] = {}


def _constraint_demo(spark, sf_dir):
    """Two-epoch MoR apply under two CHECK constraints
    (`LakeTable.add_check_constraint` — the Delta `ADD CONSTRAINT ... CHECK`
    / DLT-expectation analogue): upsert winners whose `event_type` is
    'signup' or whose `event_id % 7 == 0` are diverted to the quarantine
    sidecar instead of merging, so the key keeps its previous value (or
    stays absent). Tombstones (event_type='error' -> D) always pass.

    Scale shape: the gate is one narrow boolean projection over the
    already-persisted change frame — no extra shuffle, no extra scan; the
    quarantine write moves only the violating slice. Reference analogue:
    the validation reject branch (K2) applied at the storage boundary."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _CONSTRAINT_DEMO_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        return LakeTable(spark, loc)
    loc = tempfile.mkdtemp(prefix="dex_constraint_demo_")
    t = LakeTable.create(
        spark,
        loc,
        schema=[
            ("user_id", "bigint"),
            ("event_type", "string"),
            ("event_id", "bigint"),
        ],
        key_cols=["user_id"],
        n_buckets=8,
        order_col="event_id",
    )
    t.add_check_constraint("no_signup_state", "event_type <> 'signup'")
    t.add_check_constraint("event_id_mod7", "event_id % 7 <> 0")
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
    for epoch, parity in ((1, 0), (2, 1)):
        half = ev.filter(F.col("event_id") % 2 == parity)
        changes = latest_by_key(half, ["user_id"], ["event_id"]).withColumn(
            "__op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
        )
        t.merge(changes, epoch=epoch)
    _CONSTRAINT_DEMO_CACHE[sf_dir] = loc
    return t


def constraint_gate_read(spark, sf_dir):
    """Final table state after two constraint-gated epochs: a quarantined
    winner never merges, so the key resolves to the best *passing* row
    across epochs (MoR latest-per-key by the order column over merged rows
    only), honoring D tombstones. The oracle replays the same per-epoch
    winner -> gate -> latest-surviving algebra in SQL."""
    t = _constraint_demo(spark, sf_dir)
    return (
        t.snapshot()
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


# Per-epoch winner (latest event_id within the epoch's parity class), then
# the gate: D rows (event_type='error') always apply; U rows apply only when
# BOTH constraints hold. Final state = latest-by-event_id among the rows
# that actually merged (MoR order-col resolution), tombstones removing.
ORACLE_CONSTRAINT_GATE = """
WITH e1 AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
e2 AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 1) WHERE rn = 1),
p1 AS (
  SELECT user_id, event_type, event_id, (event_type = 'error') AS dead
  FROM e1
  WHERE event_type = 'error'
     OR (event_type <> 'signup' AND event_id % 7 <> 0)),
p2 AS (
  SELECT user_id, event_type, event_id, (event_type = 'error') AS dead
  FROM e2
  WHERE event_type = 'error'
     OR (event_type <> 'signup' AND event_id % 7 <> 0))
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2))
WHERE rn = 1 AND NOT dead
ORDER BY user_id
"""


def quarantine_read(spark, sf_dir):
    """The quarantine sidecar exploded to one row per (epoch, key, violated
    constraint): the full payload rides along, so a corrected re-merge (the
    dead-letter re-drive pattern) needs no other source. Certifies both the
    violation predicate (SQL-standard CHECK: only definitive FALSE
    quarantines) and the per-epoch idempotent sidecar layout."""
    t = _constraint_demo(spark, sf_dir)
    return (
        t.quarantine()
        .select(
            F.col("epoch").cast("bigint").alias("epoch"),
            "user_id",
            F.explode("__violated").alias("violated"),
            F.col("event_type").alias("ev_type"),
            F.col("event_id").alias("ev_id"),
        )
        .orderBy("epoch", "user_id", "violated")
    )


ORACLE_QUARANTINE = """
WITH e1 AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
e2 AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 1) WHERE rn = 1),
w AS (
  SELECT CAST(1 AS BIGINT) AS epoch, * FROM e1
  UNION ALL
  SELECT CAST(2 AS BIGINT) AS epoch, * FROM e2)
SELECT epoch, user_id, violated, event_type AS ev_type, event_id AS ev_id
FROM (
  SELECT epoch, user_id, 'event_id_mod7' AS violated, event_type, event_id
  FROM w WHERE event_type <> 'error' AND event_id % 7 = 0
  UNION ALL
  SELECT epoch, user_id, 'no_signup_state', event_type, event_id
  FROM w WHERE event_type <> 'error' AND event_type = 'signup')
ORDER BY epoch, user_id, violated
"""


# ------------------- CDF with pre-images (retraction stream) ---------------

_CDF_PRE_DEMO_CACHE: dict[str, str] = {}


def cdf_preimages_read(spark, sf_dir):
    """Delta `readChangeFeed`-style CDF with pre-images under the oracle
    gate (`LakeTable.changes_with_preimages`): the standard 2-epoch MoR
    demo, then the change feed AFTER epoch 1's commit classified as
    insert / update_preimage / update_postimage / delete — a tombstone on a
    never-live key is dropped (no observable change, Delta parity). This is
    the retraction-stream surface an incremental aggregate consumer needs
    (-pre +post) read straight from storage; the oracle recomputes every
    class from the event algebra.

    Scale shape: per commit one O(changes) pre-state read with the
    changed-key semi join pushed below the MoR resolve (keys_in) — cost
    tracks commit change volume, never table size."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _CDF_PRE_DEMO_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_cdfpre_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        for epoch, parity in ((1, 0), (2, 1)):
            half = ev.filter(F.col("event_id") % 2 == parity)
            changes = latest_by_key(half, ["user_id"], ["event_id"]).withColumn(
                "__op",
                F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
            )
            t.merge(changes, epoch=epoch)
        _CDF_PRE_DEMO_CACHE[sf_dir] = loc
    # window = everything after epoch 1's commit (create=0, e1=1, e2=2)
    return (
        t.changes_with_preimages(1)
        .select(
            "user_id",
            F.col("_change_type").alias("change_type"),
            F.col("event_type").alias("ev_type"),
            F.col("event_id").alias("ev_id"),
        )
        .orderBy("user_id", "change_type")
    )


# Epoch-1 live state = even-id winners that are not 'error' (those were D).
# Epoch-2 winners (odd ids): U (non-error) on a live key -> update pre+post;
# U on an absent key -> insert; D ('error') on a live key -> delete; D on an
# absent key -> dropped.
ORACLE_CDF_PREIMAGES = """
WITH e1 AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
pre AS (SELECT * FROM e1 WHERE event_type <> 'error'),
e2 AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 1) WHERE rn = 1)
SELECT user_id, change_type, ev_type, ev_id FROM (
  SELECT e2.user_id, 'insert' AS change_type,
         e2.event_type AS ev_type, e2.event_id AS ev_id
  FROM e2 LEFT JOIN pre ON e2.user_id = pre.user_id
  WHERE e2.event_type <> 'error' AND pre.user_id IS NULL
  UNION ALL
  SELECT e2.user_id, 'update_preimage', pre.event_type, pre.event_id
  FROM e2 JOIN pre ON e2.user_id = pre.user_id
  WHERE e2.event_type <> 'error'
  UNION ALL
  SELECT e2.user_id, 'update_postimage', e2.event_type, e2.event_id
  FROM e2 JOIN pre ON e2.user_id = pre.user_id
  WHERE e2.event_type <> 'error'
  UNION ALL
  SELECT e2.user_id, 'delete', pre.event_type, pre.event_id
  FROM e2 JOIN pre ON e2.user_id = pre.user_id
  WHERE e2.event_type = 'error')
ORDER BY user_id, change_type
"""


# ------------------- atomic multi-table transaction ------------------------

_TXN_DEMO_CACHE: dict[str, str] = {}


def txn_read(spark, sf_dir):
    """Atomic multi-table commit under the oracle gate
    (`lake/txn.MultiTableTransaction` — the Iceberg REST-catalog
    multi-table-commit analogue): ONE transaction stages a keyed merge on
    two independent tables (per-user latest state; per-event-type high
    watermark) and publishes both from a single O_EXCL manifest decide
    point. The read joins the two tables, so a torn outcome (one table's
    epoch published without the other) could not hash-match the oracle,
    which recomputes both relations from the raw events. Crash-window and
    conflict-compensation behavior is property-tested in tests/test_txn.py;
    this query certifies the committed end state.

    Scale shape: the decide and publish steps are metadata-only (one CAS
    rename per member table); all data work happened in the parallel staged
    merges — the transaction adds zero data reads/writes at any table
    size."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.lake.txn import MultiTableTransaction
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _TXN_DEMO_CACHE.get(sf_dir)
    if not (loc and LakeTable.exists(os.path.join(loc, "facts"))):
        loc = tempfile.mkdtemp(prefix="dex_txn_demo_")
        facts = LakeTable.create(
            spark,
            os.path.join(loc, "facts"),
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        marks = LakeTable.create(
            spark,
            os.path.join(loc, "marks"),
            schema=[("event_type", "string"), ("hi_event_id", "bigint")],
            key_cols=["event_type"],
            n_buckets=4,
            order_col="hi_event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        fact_ch = latest_by_key(ev, ["user_id"], ["event_id"]).withColumn(
            "__op", F.lit("U")
        )
        mark_ch = (
            ev.groupBy("event_type")
            .agg(F.max("event_id").alias("hi_event_id"))
            .withColumn("__op", F.lit("U"))
        )
        txn = MultiTableTransaction(spark, os.path.join(loc, "_txn"))
        txn.stage(facts, fact_ch, epoch=1)
        txn.stage(marks, mark_ch, epoch=1)
        txn.commit()
        _TXN_DEMO_CACHE[sf_dir] = loc
    facts = LakeTable(spark, os.path.join(loc, "facts"))
    marks = LakeTable(spark, os.path.join(loc, "marks"))
    return (
        facts.snapshot()
        .join(marks.snapshot(), on="event_type", how="inner")
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
            F.col("hi_event_id").alias("type_hi_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_TXN_READ = """
WITH latest AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events) WHERE rn = 1),
marks AS (
  SELECT event_type, MAX(event_id) AS hi_event_id FROM events GROUP BY event_type)
SELECT l.user_id, l.event_type AS last_op, l.event_id AS last_event_id,
       m.hi_event_id AS type_hi_event_id
FROM latest l JOIN marks m ON l.event_type = m.event_type
ORDER BY l.user_id
"""


_ROLLBACK_DEMO_CACHE: dict[str, str] = {}


def rollback_read(spark, sf_dir):
    """Snapshot rollback under the oracle gate (`LakeTable.rollback_to`, the
    Iceberg rollback_to_snapshot analogue — the bad-epoch recovery
    primitive): apply the even-event epoch, tag it, apply a POISONED odd
    epoch (every event_type overwritten with 'CORRUPT'), roll back to the
    tag, then re-apply the CORRECTED odd epoch under the SAME epoch id —
    possible only because rollback restores the exactly-once ledger. The
    final read must equal plain latest-per-user over ALL events, i.e. the
    bad batch leaves no trace in current state (it stays time-travel-
    readable until expiry).

    Scale shape: rollback is a metadata-only commit (no data file read or
    written), so recovery cost is O(1) in table size — at 10^10 events the
    alternative (full replay from the WAL) is hours; this is milliseconds
    plus re-applying the corrected tail."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _ROLLBACK_DEMO_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_rollback_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        even = latest_by_key(
            ev.filter(F.col("event_id") % 2 == 0), ["user_id"], ["event_id"]
        ).withColumn("__op", F.lit("U"))
        odd = latest_by_key(
            ev.filter(F.col("event_id") % 2 == 1), ["user_id"], ["event_id"]
        ).withColumn("__op", F.lit("U"))
        t.merge(even, epoch=1)
        t.create_tag("pre_bad")
        t.merge(odd.withColumn("event_type", F.lit("CORRUPT")), epoch=2)
        t.rollback_to("pre_bad")
        t.merge(odd, epoch=2)  # corrected batch, same epoch id
        _ROLLBACK_DEMO_CACHE[sf_dir] = loc
    return (
        t.snapshot()
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_ROLLBACK_READ = """
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events)
WHERE rn = 1
ORDER BY user_id
"""


_BRANCH_DEMO_CACHE: dict[str, str] = {}


def branch_read(spark, sf_dir):
    """Branch-scoped write-audit-publish under the oracle gate
    (`LakeTable.branch` + `fast_forward` — the Iceberg branch /
    fast_forward_branch analogue, built as a branch-as-table so the
    sid = parent+1 / O_EXCL linear-commit arbiter is untouched): apply the
    even-event epoch to the main table, fork an `audit` branch (metadata-only
    — zero data files copied; the fork base is pinned on the parent against
    expiry), apply the odd-event epoch ON THE BRANCH with delete tombstones
    for 'error' events, verify the parent is untouched mid-audit, then
    publish with fast_forward — one linear parent commit adopting the
    branch's buckets/deltas/ledger, hardlinking only the branch's net-new
    files. The final read must equal latest-per-user over ALL events minus
    users whose globally-latest event is an odd-side 'error' (the branch's
    tombstone semantics riding through the publish).

    Scale shape: fork is O(1) metadata; publish is O(branch's new files)
    metadata + link, never O(table) — at 10^10 events an audited epoch
    costs the same as a direct one, plus one manifest rewrite."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    loc = _BRANCH_DEMO_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_branch_demo_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id"],
            n_buckets=8,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        even = latest_by_key(
            ev.filter(F.col("event_id") % 2 == 0), ["user_id"], ["event_id"]
        ).withColumn("__op", F.lit("U"))
        odd = latest_by_key(
            ev.filter(F.col("event_id") % 2 == 1), ["user_id"], ["event_id"]
        ).withColumn(
            "__op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
        )
        t.merge(even, epoch=1)
        pre_publish = t.current_snapshot()["snapshot_id"]
        b = t.branch(loc + "_audit", name="audit")
        b.merge(odd, epoch=2)
        # audit gate: the parent must be untouched while the branch holds
        # the unpublished epoch (write-audit-publish isolation)
        assert t.current_snapshot()["snapshot_id"] == pre_publish
        t.fast_forward(b)
        _BRANCH_DEMO_CACHE[sf_dir] = loc
    return (
        t.snapshot()
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


ORACLE_BRANCH_READ = """
SELECT user_id, event_type AS last_op, event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events)
WHERE rn = 1 AND NOT (event_type = 'error' AND event_id % 2 = 1)
ORDER BY user_id
"""


def publish_read(spark, sf_dir):
    """Lineage-aware branch publish under the oracle gate (Engine.publish =
    LakeTable.fast_forward + per-epoch derived/aggregate maintenance from
    the branch's own change feed): epoch 0 INSERTs a 50-char preview of
    every doc directly on the main table (aggregate view registered), then
    an audit branch applies epoch 1 (UPDATE every surviving doc to its full
    text) and epoch 2 (DELETE every 7th doc) and Engine.publish lands both
    as ONE fast-forward commit. The aggregate view must equal DuckDB's plain
    GROUP BY over the surviving documents — which certifies the two failure
    modes a bare fast_forward or a naive per-epoch replay would hit: skipped
    maintenance (totals stay preview-sized) and double-counted deltas (the
    folded two-epoch commit fed once per epoch doubles the update+delete
    deltas).

    Scale shape: fork O(1) metadata, publish O(net-new files) + one manifest
    commit; maintenance reads each branch epoch's delta layers (O(changes))
    with the pre-state key-semi-joined — identical cost to direct apply
    (BENCH.md: 0.92x at 1M events)."""
    import tempfile

    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::publish"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "repo_stats"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_pub_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
        docs = _t(spark, sf_dir, "documents")
        base = docs.select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )

        def _wal(df):
            return (
                df.withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn")))
                .withColumn("new_path", F.lit(None).cast("string"))
                .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
                .withColumn("schema_field", F.lit(None).cast("string"))
                .withColumn(
                    "supporting_metadata", F.create_map().cast("map<string,string>")
                )
                .withColumn(
                    "event_id",
                    F.sha2(
                        F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")), 256
                    ),
                )
            )

        v0 = _wal(
            base.select(
                F.lit("INSERT").alias("op"),
                (F.col("doc_id") * 3).alias("lsn"),
                "repo", "path", "lang",
                F.substring("text", 1, 50).alias("content"),
            )
        )
        v1 = _wal(
            base.filter(F.col("doc_id") % 7 != 0).select(
                F.lit("UPDATE").alias("op"),
                (F.col("doc_id") * 3 + 1).alias("lsn"),
                "repo", "path", "lang",
                F.col("text").alias("content"),
            )
        )
        v2 = _wal(
            base.filter(F.col("doc_id") % 7 == 0).select(
                F.lit("DELETE").alias("op"),
                (F.col("doc_id") * 3 + 2).alias("lsn"),
                "repo", "path", "lang",
                F.lit(None).cast("string").alias("content"),
            )
        )
        eng.apply_epoch(v0, table, epoch=0, collect_metrics=False)
        b = table.branch(loc + "/repo_files_audit", name="audit")
        eng.apply_epoch(v1, b, epoch=1, collect_metrics=False)
        eng.apply_epoch(v2, b, epoch=2, collect_metrics=False)
        eng.publish(table, b)
        _LAKE_DEMO_CACHE[key] = loc
    agg_t = LakeTable(spark, os.path.join(loc, "repo_stats"))
    return (
        agg_t.snapshot()
        .filter(F.col("n_files") > 0)
        .select("repo", "n_files", "total_bytes")
        .orderBy("repo")
    )


ORACLE_PUBLISH_READ = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents)
SELECT source AS repo,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(len(b)) AS BIGINT) AS total_bytes
FROM body
WHERE doc_id % 7 <> 0 AND len(b) > 0
GROUP BY source
ORDER BY repo
"""


def redrive_read(spark, sf_dir):
    """Dead-letter re-drive under the oracle gate (Engine.reprocess_rejects
    — the reference's failure-replay path, svc-hl7-replay
    ReplayController.kt:100-139 applied to the reject stream): epoch 0
    INSERTs every doc but POISONS the required 'commit' metadata on every
    5th one, so the structure validator dead-letters those rows (full
    envelope, V1-V3 + K2 semantics); reprocess_rejects then backfills the
    metadata and re-applies them exactly-once under a new epoch. The final
    snapshot must contain EVERY non-empty doc, and the ``redriven`` flag —
    computed from the reject sidecar, not from the synthesis rule — must
    mark exactly the poisoned keys. Discriminating both ways: if validation
    never rejected, redriven is all-zero; if the re-drive didn't land, the
    poisoned keys are missing rows.

    Scale shape: rejects are ~1/5 here but ~1% in production — the re-drive
    is one ordinary O(changes) epoch over the reject table, never a WAL
    re-scan; the read-time window on last_lsn makes stale re-drives unable
    to clobber newer live rows."""
    import tempfile

    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::redrive"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "repo_files"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_redrive_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        docs = _t(spark, sf_dir, "documents")
        wal = (
            docs.select(
                F.lit("INSERT").alias("op"),
                (F.col("doc_id") * 2).alias("lsn"),
                F.col("source").alias("repo"),
                F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
                "doc_id",
                "lang",
                F.col("text").alias("content"),
            )
            .withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn")))
            .withColumn("new_path", F.lit(None).cast("string"))
            .withColumn(
                "commit",
                # the poison: required provenance missing on every 5th doc
                F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(
                    F.sha2(F.col("path"), 256).substr(1, 40)
                ),
            )
            .withColumn("schema_field", F.lit(None).cast("string"))
            .withColumn(
                "supporting_metadata", F.create_map().cast("map<string,string>")
            )
            .withColumn(
                "event_id",
                F.sha2(
                    F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")), 256
                ),
            )
            .drop("doc_id")
        )
        eng.apply_epoch(wal, table, epoch=0)
        assert eng.rejects("repo_files").count() > 0, "poison produced no rejects"

        def fix(ev):
            return ev.withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))

        eng.reprocess_rejects(table, epoch=1000, fix=fix)
        _LAKE_DEMO_CACHE[key] = loc
    eng = Engine(spark, loc, n_buckets=8)
    table = eng.snapshot_table("repo_files")
    redriven = (
        eng.rejects("repo_files")
        .filter(F.col("epoch") == 0)
        .select("repo", "path")
        .distinct()
        .withColumn("redriven", F.lit(1))
    )
    return (
        table.snapshot()
        .join(redriven, ["repo", "path"], "left")
        .fillna(0, ["redriven"])
        .select("repo", "path", "size_bytes", "last_lsn", "redriven")
        .orderBy("repo", "path")
    )


ORACLE_REDRIVE_READ = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents)
SELECT source AS repo,
       'doc/' || CAST(doc_id AS VARCHAR) AS path,
       CAST(len(b) AS INT) AS size_bytes,
       CAST(doc_id * 2 AS BIGINT) AS last_lsn,
       CAST(doc_id % 5 = 0 AS INT) AS redriven
FROM body
WHERE len(b) > 0
ORDER BY repo, path
"""


def stream_ingest_read(spark, sf_dir):
    """S1 streaming ingest itself under the oracle gate (directory-tail →
    foreachBatch exactly-once; reference fn-receiver-debatcher
    Function.kt:46-54, Spark POC fn_load_hl7.scala:37-43): a two-version
    WAL (INSERT preview, then UPDATE-to-full-text / DELETE every 7th doc)
    is written as MANY parquet files and drained by ``stream_apply`` with a
    maxFilesPerTrigger rate limit, so availableNow splits the backlog into
    several exactly-once micro-batches (asserted >= 3 epochs — the
    multi-batch path, not one giant batch). The final snapshot must equal
    the per-key latest-lsn resolution DuckDB computes — whatever file/batch
    interleaving the source picked, which is precisely the property that
    lets a 10^10-event backlog drain under any epoch sizing.

    Scale shape: each micro-batch is one ordinary O(changes) epoch (same
    plan as apply_epoch); the checkpoint + epoch manifest pair closes the
    foreachBatch at-least-once hole."""
    import tempfile

    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.streaming.stream_ingest import stream_apply

    key = f"{sf_dir}::stream_ingest"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "repo_files"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_stream_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        docs = _t(spark, sf_dir, "documents")
        base = docs.select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )

        def _wal(df):
            return (
                df.withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn")))
                .withColumn("new_path", F.lit(None).cast("string"))
                .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
                .withColumn("schema_field", F.lit(None).cast("string"))
                .withColumn(
                    "supporting_metadata", F.create_map().cast("map<string,string>")
                )
                .withColumn(
                    "event_id",
                    F.sha2(
                        F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")), 256
                    ),
                )
                .drop("doc_id")
            )

        v1 = _wal(
            base.select(
                F.lit("INSERT").alias("op"),
                (F.col("doc_id") * 2).alias("lsn"),
                "repo", "path", "doc_id", "lang",
                F.substring("text", 1, 50).alias("content"),
            )
        )
        v2 = _wal(
            base.select(
                F.when(F.col("doc_id") % 7 == 0, F.lit("DELETE"))
                .otherwise(F.lit("UPDATE"))
                .alias("op"),
                (F.col("doc_id") * 2 + 1).alias("lsn"),
                "repo", "path", "doc_id", "lang",
                F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
                .otherwise(F.col("text"))
                .alias("content"),
            )
        )
        src = os.path.join(loc, "wal_stream")
        v1.repartition(4).write.mode("overwrite").parquet(src)
        v2.repartition(4).write.mode("append").parquet(src)
        q = stream_apply(
            spark, eng, src, table, os.path.join(loc, "ckpt"),
            max_files_per_trigger=3,
            # maintenance cadence under the oracle too: consolidation MUST
            # retain tombstones (file order is not lsn order here — a
            # tombstone-dropping fold would resurrect deleted docs and fail
            # the value hash) and expiry must never touch referenced files
            compact_every=2,
            expire_keep_last=3,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("streaming drain did not finish within 300s")
        # the rate limit must have split the drain into several exactly-once
        # micro-batches — the property under test (not one giant batch)
        assert len(table.committed_epochs()) >= 3, table.committed_epochs()
        _LAKE_DEMO_CACHE[key] = loc
    table = LakeTable(spark, os.path.join(loc, "repo_files"))
    return (
        table.snapshot()
        .select("repo", "path", "size_bytes", "last_lsn")
        .orderBy("repo", "path")
    )


ORACLE_STREAM_INGEST_READ = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents)
SELECT source AS repo,
       'doc/' || CAST(doc_id AS VARCHAR) AS path,
       CAST(len(b) AS INT) AS size_bytes,
       CAST(doc_id * 2 + 1 AS BIGINT) AS last_lsn
FROM body
WHERE doc_id % 7 <> 0 AND len(b) > 0
ORDER BY repo, path
"""


def replay_read(spark, sf_dir):
    """Selective replay under the oracle gate (streaming/runner.replay —
    the reference's replay entry points: by source unit + log range,
    svc-hl7-replay ReplayController.kt:100-139/225-253): the two-version
    documents WAL is replayed into a FRESH table with a composed filter —
    repo == 'src3' AND lsn in [0, 2K+1] where K = max(doc_id)//2 — through
    the normal micro-batch apply (epoch manifests, ReplayMD provenance on
    every epoch). The replayed table must equal DuckDB's direct computation
    of that slice's final state: only src3 docs with doc_id <= K, at full
    text, minus the %7 deletes. Both filter dimensions are discriminating —
    dropping either admits extra rows.

    Scale shape: the filters are narrow predicates pushed to the WAL scan
    (a selective replay reads O(matching events), the property that makes
    replaying one jurisdiction out of 10^10 events affordable), and the
    apply is the ordinary O(changes) epoch path."""
    import tempfile

    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.streaming.runner import replay

    key = f"{sf_dir}::replay"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "repo_files_replay"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_replay_")
        eng = Engine(spark, loc, n_buckets=8)
        docs = _t(spark, sf_dir, "documents")
        k = docs.agg(F.max("doc_id")).collect()[0][0] // 2  # scalar, metadata-sized
        base = docs.select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )

        def _wal(df):
            return (
                df.withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn")))
                .withColumn("new_path", F.lit(None).cast("string"))
                .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
                .withColumn("schema_field", F.lit(None).cast("string"))
                .withColumn(
                    "supporting_metadata", F.create_map().cast("map<string,string>")
                )
                .withColumn(
                    "event_id",
                    F.sha2(
                        F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")), 256
                    ),
                )
                .drop("doc_id")
            )

        v1 = _wal(
            base.select(
                F.lit("INSERT").alias("op"),
                (F.col("doc_id") * 2).alias("lsn"),
                "repo", "path", "doc_id", "lang",
                F.substring("text", 1, 50).alias("content"),
            )
        )
        v2 = _wal(
            base.select(
                F.when(F.col("doc_id") % 7 == 0, F.lit("DELETE"))
                .otherwise(F.lit("UPDATE"))
                .alias("op"),
                (F.col("doc_id") * 2 + 1).alias("lsn"),
                "repo", "path", "doc_id", "lang",
                F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
                .otherwise(F.col("text"))
                .alias("content"),
            )
        )
        replay(
            eng,
            v1.unionByName(v2),
            table_name="repo_files_replay",
            epoch_size=512,
            repo="src3",
            lsn_range=(0, 2 * k + 1),
            reason="oracle-gated selective replay",
        )
        _LAKE_DEMO_CACHE[key] = loc
    table = LakeTable(spark, os.path.join(loc, "repo_files_replay"))
    return (
        table.snapshot()
        .select("repo", "path", "size_bytes", "last_lsn")
        .orderBy("repo", "path")
    )


ORACLE_REPLAY_READ = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents)
SELECT source AS repo,
       'doc/' || CAST(doc_id AS VARCHAR) AS path,
       CAST(len(b) AS INT) AS size_bytes,
       CAST(doc_id * 2 + 1 AS BIGINT) AS last_lsn
FROM body
WHERE source = 'src3'
  AND doc_id <= (SELECT MAX(doc_id) FROM documents) // 2
  AND doc_id % 7 <> 0 AND len(b) > 0
ORDER BY repo, path
"""


def json_lake_flat(spark, sf_dir):
    """T1 profile-driven HL7->JSON, oracle-gated (lib-bumblebee
    HL7JsonTransformer.kt:30-146): runs the REAL to_json_lake — cardinality
    [0..1] -> object vs [0..*] -> array, plus OBX-2 dynamic typing
    (HL7JsonTransformer.kt:76) — then flattens the parsed struct to one row
    per leaf (event_id, path, dtype, value, code, text, coding_system) so
    DuckDB can rebuild the identical rows with string ops. MSH/PID singles
    become object rows; the two OBX repeats become indexed array rows —
    repeat 1 is CE (coded components populated), repeat 2 is NM (components
    null, the reference's null-strip). A green row certifies cardinality
    AND dynamic typing against an external engine, not just pytest goldens.

    Scale shape: profile compiles to one nested struct expression; the
    flatten is an inline array explode — narrow, single scan, no shuffle."""
    from data_exchange_hl7_spark.operators.profile_transform import to_json_lake

    ev = _spread(_t(spark, sf_dir, "events"))
    cents = _cents(F.col("value")).cast("string")
    df = ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.concat(
            F.lit("MSH|^~\\&|"), F.col("event_type"), F.lit("^sub|fac|f5|f6|"),
            F.date_format("ts", TS_FMT_SPARK),
            F.lit("\nPID|1||"), F.col("user_id").cast("string"),
            F.lit("^^MRN||FAM-"), F.col("event_id").cast("string"), F.lit("^GIV"),
            F.lit("\nOBX|1|CE|55555-5||"), F.col("event_type"), F.lit("^desc^SYS"),
            F.lit("\nOBX|2|NM|30525-0||"), cents,
        ).alias("content"),
    )
    profile = {
        "MSH": {
            "cardinality": "[0..1]",
            "fields": [
                {"name": "sending_app", "field": 3, "component": 1},
                {"name": "message_ts", "field": 7},
            ],
        },
        "PID": {
            "cardinality": "[0..1]",
            "fields": [
                {"name": "patient_id", "field": 3, "component": 1},
                {"name": "family_name", "field": 5, "component": 1},
            ],
        },
        "OBX": {
            "cardinality": "[0..*]",
            "fields": [
                {"name": "set_id", "field": 1},
                {"name": "obs", "field": 5, "dynamic_type_from": 2},
            ],
        },
    }
    out = to_json_lake(df, profile)
    p = F.col("parsed")
    null_s = F.lit(None).cast("string")

    def leaf(path, val):
        return F.struct(
            F.lit(path).alias("path"),
            null_s.alias("dtype"),
            val.alias("value"),
            null_s.alias("code"),
            null_s.alias("text"),
            null_s.alias("coding_system"),
        )

    obx_rows = F.transform(
        p["obx"],
        lambda x, i: F.struct(
            F.concat(F.lit("obx["), (i + 1).cast("string"), F.lit("].obs")).alias("path"),
            x["obs"]["type"].alias("dtype"),
            x["obs"]["value"].alias("value"),
            x["obs"]["code"].alias("code"),
            x["obs"]["text"].alias("text"),
            x["obs"]["coding_system"].alias("coding_system"),
        ),
    )
    rows = F.concat(
        F.array(
            leaf("msh.sending_app", p["msh"]["sending_app"]),
            leaf("msh.message_ts", p["msh"]["message_ts"]),
            leaf("pid.patient_id", p["pid"]["patient_id"]),
            leaf("pid.family_name", p["pid"]["family_name"]),
        ),
        obx_rows,
    )
    return (
        out.select(
            F.col("message_id").cast("bigint").alias("event_id"),
            F.explode(rows).alias("r"),
        )
        .select(
            "event_id", "r.path", "r.dtype", "r.value",
            "r.code", "r.text", "r.coding_system",
        )
        .orderBy("event_id", "path")
    )


ORACLE_JSON_LAKE_FLAT = f"""
WITH m AS (
  SELECT event_id, event_type,
         CAST(user_id AS VARCHAR) AS uid,
         CAST(CAST(ROUND(value*100) AS BIGINT) AS VARCHAR) AS cents,
         STRFTIME(ts, '{TS_FMT_DUCK}') AS tss
  FROM events)
SELECT event_id, path, dtype, value, code, text, coding_system FROM (
  SELECT event_id, 'msh.sending_app' AS path, CAST(NULL AS VARCHAR) AS dtype,
         event_type AS value, CAST(NULL AS VARCHAR) AS code,
         CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS coding_system
  FROM m
  UNION ALL SELECT event_id, 'msh.message_ts', NULL, tss, NULL, NULL, NULL FROM m
  UNION ALL SELECT event_id, 'pid.patient_id', NULL, uid, NULL, NULL, NULL FROM m
  UNION ALL SELECT event_id, 'pid.family_name', NULL,
                   'FAM-' || CAST(event_id AS VARCHAR), NULL, NULL, NULL FROM m
  UNION ALL SELECT event_id, 'obx[1].obs', 'CE', event_type || '^desc^SYS',
                   event_type, 'desc', 'SYS' FROM m
  UNION ALL SELECT event_id, 'obx[2].obs', 'NM', cents, NULL, NULL, NULL FROM m
) ORDER BY event_id, path
"""


def gold_wide_projection(spark, sf_dir):
    """T4 MMG-driven wide gold projection + T6 canonical column order
    (ADFEntryPoints/runHL7GoldPipelineFull.scala:115-156 singles fold,
    250-256 canonical order) over HL7-shaped content synthesized in-plan:
    an MMG element list whose names carry spaces, '#', '/' and '-' —
    exercising the reference's normalize/truncate naming rules
    (StringUtils.kt:8-22,33-62) — maps profile singles to one column per
    element via the real gold_wide operator. Output layout is meta column
    first, payload columns sorted lexically (the hash gate is column-order
    insensitive, so the ordering itself is pinned by
    tests/test_hl7.py::test_gold_wide_canonical_order)."""
    from data_exchange_hl7_spark.operators.profile_transform import gold_wide

    ev = _spread(_t(spark, sf_dir, "events"))
    df = ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.concat(
            F.lit("MSH|^~\\&|"), F.col("event_type"), F.lit("^sub|fac|f5|f6|"),
            F.date_format("ts", TS_FMT_SPARK),
            F.lit("\nPID|1||"), F.col("user_id").cast("string"),
            F.lit("^^MRN||FAM-"), F.col("event_id").cast("string"), F.lit("^GIV"),
        ).alias("content"),
    )
    profile = {
        "MSH": {
            "cardinality": "[0..1]",
            "fields": [
                {"name": "sending_app", "field": 3, "component": 1},
                {"name": "message_ts", "field": 7},
            ],
        },
        "PID": {
            "cardinality": "[0..1]",
            "fields": [
                {"name": "patient_id", "field": 3, "component": 1},
                {"name": "family_name", "field": 5, "component": 1},
                {"name": "given_name", "field": 5, "component": 2},
            ],
        },
    }
    elements = [
        {"name": "Sending Application", "segment": "MSH", "field_name": "sending_app"},
        {"name": "Message Date/Time", "segment": "MSH", "field_name": "message_ts"},
        {"name": "Patient ID #", "segment": "PID", "field_name": "patient_id"},
        {"name": "Family-Name", "segment": "PID", "field_name": "family_name"},
        {"name": "Given Name", "segment": "PID", "field_name": "given_name"},
    ]
    wide = gold_wide(df, profile, elements)
    payload = [c for c in wide.columns if c != "message_id"]
    return wide.select(
        F.col("message_id").cast("bigint").alias("event_id"), *payload
    ).orderBy("event_id")


ORACLE_GOLD_WIDE = f"""
SELECT event_id,
       'FAM-' || CAST(event_id AS VARCHAR) AS family_name,
       'GIV' AS given_name,
       STRFTIME(ts, '{TS_FMT_DUCK}') AS message_date_time,
       CAST(user_id AS VARCHAR) AS patient_id_nbr,
       event_type AS sending_application
FROM events ORDER BY event_id
"""


# ================= temporal CDC: SCD2 / as-of / changelog ==================
# operators/temporal.py — the dimension-maintenance half of the CDC engine
# (reference keeps only latest state, latest_flag_and_sequencing.scala:49-151;
# these are the standard lakehouse siblings of that operator).

from data_exchange_hl7_spark.operators import temporal as _temporal  # noqa: E402


def scd2_build(spark, sf_dir):
    """SCD Type-2 dimension history from the events WAL: every non-delete
    event opens a version [valid_from, valid_to); 'error' (DELETE) closes
    the open version without opening one, so a user whose last event is a
    delete has no current version. ONE lead window per key — no self-join
    (operators/temporal.scd2)."""
    ev = _t(spark, sf_dir, "events")
    out = _temporal.scd2(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        ts_col="ts",
        delete_predicate=F.col("event_type") == "error",
    )
    return out.select(
        "user_id",
        "version_no",
        F.col("event_id").alias("state_event_id"),
        F.col("event_type").alias("state"),
        F.date_format("valid_from", TS_FMT_SPARK).alias("valid_from"),
        F.date_format("valid_to", TS_FMT_SPARK).alias("valid_to"),
        "is_current",
    ).orderBy("user_id", "version_no")


ORACLE_SCD2 = f"""
WITH v AS (
  SELECT user_id, event_id, event_type, ts,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events)
SELECT user_id,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version_no,
       event_id AS state_event_id,
       event_type AS state,
       STRFTIME(ts, '{TS_FMT_DUCK}') AS valid_from,
       STRFTIME(nxt, '{TS_FMT_DUCK}') AS valid_to,
       (nxt IS NULL) AS is_current
FROM v WHERE event_type <> 'error'
ORDER BY user_id, version_no
"""


def asof_join_state(spark, sf_dir):
    """Two-table point-in-time join: each purchase fact joined to the
    dimension state (latest signup/click) as of the fact's LSN. The union /
    sort-merge as-of plan (operators/temporal.asof_join): one shuffle,
    O(|facts|+|dim|), no range product. Oracle is DuckDB's NATIVE ASOF
    JOIN — a genuinely independent implementation of the semantics."""
    ev = _t(spark, sf_dir, "events")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id"
    )
    dim = ev.filter(F.col("event_type").isin("signup", "click")).select(
        "event_id", "user_id", "event_type"
    )
    out = _temporal.asof_join(
        facts,
        dim,
        key_cols=["user_id"],
        lsn_col="event_id",
        dim_cols=["event_id", "event_type"],
        prefix="state_",
    )
    return out.select(
        "event_id", "user_id", "state_event_id", "state_event_type"
    ).orderBy("event_id")


ORACLE_ASOF_STATE = """
WITH f AS (SELECT event_id, user_id FROM events WHERE event_type = 'purchase'),
     d AS (SELECT event_id, user_id, event_type FROM events
           WHERE event_type IN ('signup', 'click'))
SELECT f.event_id, f.user_id,
       d.event_id AS state_event_id, d.event_type AS state_event_type
FROM f ASOF LEFT JOIN d ON f.user_id = d.user_id AND f.event_id >= d.event_id
ORDER BY f.event_id
"""


def changelog_normalize_feed(spark, sf_dir):
    """Upsert/delete WAL -> insert-only retraction changelog (+I / -U / +U /
    -D; Flink ChangelogNormalize semantics): the contract downstream
    incremental aggregates consume. Delete-of-absent emits nothing. One lag
    window + explode (operators/temporal.changelog_normalize)."""
    ev = _t(spark, sf_dir, "events")
    out = _temporal.changelog_normalize(
        ev,
        key_cols=["user_id"],
        lsn_col="event_id",
        image_cols=["event_type"],
        delete_predicate=F.col("event_type") == "error",
    )
    return out.select(
        "user_id", "lsn", "change_op", "step", "img_lsn", "img_event_type"
    ).orderBy("lsn", "step")


ORACLE_CHANGELOG = """
WITH x AS (
  SELECT event_id, user_id, event_type,
         LAG(event_id)   OVER w AS prev_id,
         LAG(event_type) OVER w AS prev_ty
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
p AS (SELECT *, (prev_ty IS NOT NULL AND prev_ty <> 'error') AS present FROM x)
SELECT user_id, event_id AS lsn, '-D' AS change_op, 0 AS step,
       prev_id AS img_lsn, prev_ty AS img_event_type
FROM p WHERE event_type = 'error' AND present
UNION ALL
SELECT user_id, event_id, '-U', 0, prev_id, prev_ty
FROM p WHERE event_type <> 'error' AND present
UNION ALL
SELECT user_id, event_id, '+U', 1, event_id, event_type
FROM p WHERE event_type <> 'error' AND present
UNION ALL
SELECT user_id, event_id, '+I', 1, event_id, event_type
FROM p WHERE event_type <> 'error' AND NOT present
ORDER BY lsn, step
"""


def cdf_net_changes(spark, sf_dir):
    """Net-change folding (Delta CDF 'net changes' semantics): the feed
    half of the WAL (lsn >= split) folds to at most ONE net I/U/D per key,
    classified against the pre-window state. Pure mergeable aggregation —
    two conditional max-struct accumulators, map-side combine, NO window —
    so it is skew-immune (operators/temporal.net_changes)."""
    ev = _t(spark, sf_dir, "events")
    split = ev.groupBy().agg(
        F.expr("(MAX(event_id) + 1) DIV 2").alias("__split")
    )
    out = _temporal.net_changes(
        ev.crossJoin(F.broadcast(split)),
        key_cols=["user_id"],
        lsn_col="event_id",
        image_cols=["event_type"],
        delete_predicate=F.col("event_type") == "error",
        split_lsn=F.col("__split"),
    )
    return out.select("user_id", "net_op", "img_lsn", "img_event_type").orderBy(
        "user_id"
    )


ORACLE_NET_CHANGES = """
WITH s AS (SELECT (MAX(event_id) + 1) // 2 AS split FROM events),
g AS (SELECT user_id,
        ARG_MAX(event_type, event_id) FILTER (WHERE event_id < split) AS pre_ty,
        MAX(event_id)                 FILTER (WHERE event_id < split) AS pre_id,
        ARG_MAX(event_type, event_id) FILTER (WHERE event_id >= split) AS fin_ty,
        MAX(event_id)                 FILTER (WHERE event_id >= split) AS fin_id
      FROM events, s GROUP BY user_id),
c AS (SELECT user_id, pre_id, pre_ty, fin_id, fin_ty,
        (pre_id IS NOT NULL AND pre_ty <> 'error') AS present
      FROM g WHERE fin_id IS NOT NULL)
SELECT user_id,
       CASE WHEN fin_ty = 'error' THEN 'D'
            WHEN present THEN 'U' ELSE 'I' END AS net_op,
       CASE WHEN fin_ty = 'error' THEN pre_id ELSE fin_id END AS img_lsn,
       CASE WHEN fin_ty = 'error' THEN pre_ty ELSE fin_ty END AS img_event_type
FROM c WHERE NOT (fin_ty = 'error' AND NOT present)
ORDER BY user_id
"""


def epoch_drift_report(spark, sf_dir):
    """Ingest-monitoring drift report between two WAL epochs (first vs
    second half by LSN): per event_type counts and integer-permille shares
    on each side plus the absolute share drift — the per-epoch data-quality
    gate an operator reads before promoting an epoch. All-integer
    arithmetic (DIV), one hash agg + a 1-row broadcast of the totals."""
    ev = _t(spark, sf_dir, "events")
    split = ev.groupBy().agg(
        F.expr("(MAX(event_id) + 1) DIV 2").alias("__split")
    )
    c = (
        ev.crossJoin(F.broadcast(split))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("event_id") < F.col("__split"), 1).otherwise(0))
            .cast("bigint")
            .alias("cnt_a"),
            F.sum(F.when(F.col("event_id") >= F.col("__split"), 1).otherwise(0))
            .cast("bigint")
            .alias("cnt_b"),
        )
    )
    tot = c.groupBy().agg(
        F.sum("cnt_a").alias("__tot_a"), F.sum("cnt_b").alias("__tot_b")
    )
    out = (
        c.crossJoin(F.broadcast(tot))
        .withColumn("share_a_permille", F.expr("cnt_a * 1000 DIV __tot_a"))
        .withColumn("share_b_permille", F.expr("cnt_b * 1000 DIV __tot_b"))
        .withColumn(
            "drift_permille",
            F.abs(F.col("share_a_permille") - F.col("share_b_permille")),
        )
    )
    return out.select(
        "event_type", "cnt_a", "cnt_b", "share_a_permille", "share_b_permille",
        "drift_permille",
    ).orderBy("event_type")


ORACLE_EPOCH_DRIFT = """
WITH s AS (SELECT (MAX(event_id) + 1) // 2 AS split FROM events),
c AS (SELECT event_type,
        COUNT(*) FILTER (WHERE event_id < split) AS cnt_a,
        COUNT(*) FILTER (WHERE event_id >= split) AS cnt_b
      FROM events, s GROUP BY event_type),
t AS (SELECT SUM(cnt_a) AS tot_a, SUM(cnt_b) AS tot_b FROM c)
SELECT event_type,
       CAST(cnt_a AS BIGINT) AS cnt_a,
       CAST(cnt_b AS BIGINT) AS cnt_b,
       CAST(cnt_a * 1000 // tot_a AS BIGINT) AS share_a_permille,
       CAST(cnt_b * 1000 // tot_b AS BIGINT) AS share_b_permille,
       CAST(ABS(cnt_a * 1000 // tot_a - cnt_b * 1000 // tot_b) AS BIGINT)
         AS drift_permille
FROM c, t ORDER BY event_type
"""


def scd2_history_read(spark, sf_dir):
    """Engine-maintained INCREMENTAL SCD Type-2 history under the oracle
    gate (Engine.scd2_table / engine.scd2_history_rows): the version-history
    derived table is kept in step with the main table across TWO real
    epochs — epoch 0 INSERTs every doc (lsn = 2*doc_id), epoch 1 UPDATEs
    doc_id%3==0 and DELETEs doc_id%7==0 (lsn = 2*doc_id+1; delete wins the
    %21 overlap). The final history snapshot must equal the SCD2 DuckDB
    computes directly from the event algebra — which certifies all three
    incremental behaviors at once: untouched keys keep their open epoch-0
    version, updated keys get a CLOSED v1 (valid_to = the update's lsn) plus
    an open v2, deleted keys end fully closed with no current version.

    Scale shape: per epoch the maintenance joins the O(changes) change
    frame to the O(changes) pre-epoch state the engine already computes for
    aggregate views — the history table itself is never scanned, and
    unchanged keys' version rows are never rewritten."""
    from data_exchange_hl7_spark.lake.table import LakeTable

    loc = _scd2_demo(spark, sf_dir)
    hist = LakeTable(spark, os.path.join(loc, "scd2_history"))
    return (
        hist.snapshot()
        .select(
            "repo", "path", "valid_from_lsn", "commit", "lang",
            "valid_to_lsn", "is_current",
        )
        .orderBy("repo", "path", "valid_from_lsn")
    )


def _scd2_demo(spark, sf_dir) -> str:
    """Shared two-epoch SCD2 engine demo (see scd2_history_read docstring
    for the event algebra); returns the warehouse location."""
    import tempfile

    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::scd2"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "scd2_history"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_scd2_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        eng.scd2_table("scd2_history")
        base = _t(spark, sf_dir, "documents").select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )

        def _wal(frame):
            return (
                frame.withColumn(
                    "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn"))
                )
                .withColumn("new_path", F.lit(None).cast("string"))
                .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
                .withColumn("schema_field", F.lit(None).cast("string"))
                .withColumn(
                    "supporting_metadata", F.create_map().cast("map<string,string>")
                )
                .withColumn(
                    "event_id",
                    F.sha2(
                        F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")),
                        256,
                    ),
                )
            )

        v1 = base.select(
            F.lit("INSERT").alias("op"),
            (F.col("doc_id") * 2).alias("lsn"),
            "repo",
            "path",
            "lang",
            F.substring("text", 1, 50).alias("content"),
        )
        v2 = base.filter((F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 7 == 0)).select(
            F.when(F.col("doc_id") % 7 == 0, F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("op"),
            (F.col("doc_id") * 2 + 1).alias("lsn"),
            "repo",
            "path",
            "lang",
            F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("text"))
            .alias("content"),
        )
        eng.apply_epoch(_wal(v1), table, epoch=0, collect_metrics=False)
        eng.apply_epoch(_wal(v2), table, epoch=1, collect_metrics=False)
        _LAKE_DEMO_CACHE[key] = loc
    return loc


# Expected SCD2 from the event algebra: v1 for every doc (closed iff an
# epoch-1 event exists for it), v2 only for updated-not-deleted docs.
ORACLE_SCD2_HISTORY = """
WITH docs AS (
  SELECT doc_id, source AS repo,
         'doc/' || CAST(doc_id AS VARCHAR) AS path, lang
  FROM documents),
v1 AS (
  SELECT repo, path, lang, CAST(doc_id * 2 AS BIGINT) AS valid_from_lsn,
         CASE WHEN doc_id % 3 = 0 OR doc_id % 7 = 0
              THEN CAST(doc_id * 2 + 1 AS BIGINT) END AS valid_to_lsn,
         (doc_id % 3 <> 0 AND doc_id % 7 <> 0) AS is_current
  FROM docs),
v2 AS (
  SELECT repo, path, lang, CAST(doc_id * 2 + 1 AS BIGINT) AS valid_from_lsn,
         CAST(NULL AS BIGINT) AS valid_to_lsn, TRUE AS is_current
  FROM docs WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0)
SELECT repo, path, valid_from_lsn,
       SUBSTR(SHA256(path), 1, 40) AS commit, lang,
       valid_to_lsn, is_current
FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
ORDER BY repo, path, valid_from_lsn
"""


def bitemporal_read(spark, sf_dir):
    """BITEMPORAL query: transaction time x valid time, composed from two
    primitives this lake already certifies separately — time travel on the
    engine-maintained SCD2 history table (transaction axis: what the system
    had RECORDED as of snapshot S) and the `[valid_from, valid_to)` interval
    probe (valid axis: what was TRUE of the modeled world at lsn V).

    The same valid-time probe V (= max doc_id, so half the keys exist at V)
    is asked at two transaction times: `post_e0` (the history table's
    snapshot right after epoch 0 committed — the epoch-1 updates/deletes
    were not yet known, so every existing key answers with its open v1) and
    `final` (epoch 1 recorded: keys modified at lsn <= V now answer v2, keys
    deleted at lsn <= V answer nothing). The difference between the two row
    sets is exactly the late-arriving knowledge — the property a
    backfill-auditing pipeline needs ("what did the model training job see
    when it ran?").

    Scale shape: both reads are snapshot reads of the SAME history table
    (one bucket-pruned scan each, stats-skippable on valid_from_lsn); no
    join, no window — the interval probe is a narrow filter. Reference
    analogue: lake time travel (SURVEY §2.9) composed with SCD2 (T-family);
    Engine.scd2_table maintains the history incrementally per epoch."""
    from data_exchange_hl7_spark.lake.table import LakeTable

    loc = _scd2_demo(spark, sf_dir)
    hist = LakeTable(spark, os.path.join(loc, "scd2_history"))
    # committing snapshot of epoch 0 on the HISTORY table (its manifest
    # carries the same epoch ids as the main): metadata walk, O(snapshots)
    sid0 = min(
        h["snapshot_id"] for h in hist.history() if "0" in h.get("epochs", {})
    )
    probe = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).collect()[0][0]

    def _valid_at(df):
        return df.filter(
            (F.col("valid_from_lsn") <= F.lit(probe))
            & (F.coalesce(F.col("valid_to_lsn"), F.lit(1 << 62)) > F.lit(probe))
        )

    def _shape(df, tx):
        return df.select(
            F.lit(tx).alias("tx"),
            "repo",
            "path",
            "valid_from_lsn",
            F.when(F.col("valid_from_lsn") % 2 == 1, F.lit("v2"))
            .otherwise(F.lit("v1"))
            .alias("version"),
        )

    return (
        _shape(_valid_at(hist.snapshot(as_of=sid0)), "post_e0")
        .unionByName(_shape(_valid_at(hist.snapshot()), "final"))
        .orderBy("tx", "repo", "path", "valid_from_lsn")
    )


# Valid-time algebra at probe = MAX(doc_id): a doc exists at the probe iff
# its insert lsn (2*doc_id) <= probe. At tx=post_e0 nothing else was
# recorded. At tx=final a modification at 2*doc_id+1 <= probe closes v1 —
# updates (%3, not %7) answer v2, deletes (%7) answer nothing.
ORACLE_BITEMPORAL = """
WITH m AS (SELECT MAX(doc_id) AS probe FROM documents),
docs AS (
  SELECT doc_id, source AS repo,
         'doc/' || CAST(doc_id AS VARCHAR) AS path
  FROM documents),
post_e0 AS (
  SELECT 'post_e0' AS tx, repo, path,
         CAST(doc_id * 2 AS BIGINT) AS valid_from_lsn, 'v1' AS version
  FROM docs, m WHERE doc_id * 2 <= m.probe),
final_rows AS (
  SELECT 'final' AS tx, repo, path,
         CAST(doc_id * 2 AS BIGINT) AS valid_from_lsn, 'v1' AS version
  FROM docs, m
  WHERE doc_id * 2 <= m.probe
    AND NOT ((doc_id % 3 = 0 OR doc_id % 7 = 0) AND doc_id * 2 + 1 <= m.probe)
  UNION ALL
  SELECT 'final', repo, path, CAST(doc_id * 2 + 1 AS BIGINT), 'v2'
  FROM docs, m
  WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0 AND doc_id * 2 + 1 <= m.probe)
SELECT tx, repo, path, valid_from_lsn, version
FROM (SELECT * FROM post_e0 UNION ALL SELECT * FROM final_rows)
ORDER BY tx, repo, path, valid_from_lsn
"""


def late_data_audit(spark, sf_dir):
    """Watermark late-data accounting under the oracle gate: a REAL
    watermarked append-mode stream (streaming/windowed.windowed_counts,
    2-hour watermark, 1-hour tumbling windows) drains a deterministic
    5-file backlog one file per micro-batch — on-time bulk (event_id%4!=0);
    a 1-row filler batch (Spark >= 3.4 splits the watermark in two: the
    LATE-EVENT filter of batch N uses batch N-1's watermark while eviction
    uses the current one, so the stragglers must arrive one batch after the
    bulk for the filter to see its watermark — measured, not assumed); the
    stragglers (event_id%4==0, same time range, now LATE); then two
    far-future sentinel files whose only job is to push the watermark so
    every real window finalizes. The emitted windows AND the observed drop
    mass balance (real input rows minus rows accounted in finalized
    windows, surfaced as the ``__ALL__`` / ``__late_dropped__`` row) must
    match what DuckDB computes from the watermark algebra: a straggler is
    dropped iff its window end <= the watermark after the bulk (max on-time
    ts - 2h), finalized windows count on-time rows plus surviving
    stragglers. (The mass balance is the robust observation:
    StreamingQueryProgress's ``numRowsDroppedByWatermark`` counts rows at
    the state operator AFTER the map-side partial aggregation, so it
    undercounts whenever two late input rows share a (window, key,
    partition) — measured here at sf0.01.)

    Scale shape: the audit IS the production late-data contract — state is
    bounded by the watermark, emission is append-only, and the drop counter
    is the metric an operator alerts on; nothing here scans the corpus
    twice."""
    import shutil
    import tempfile
    from datetime import timedelta

    from data_exchange_hl7_spark.streaming.windowed import windowed_counts

    key = f"{sf_dir}::late_audit"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and os.path.exists(os.path.join(loc, "result"))):
        loc = tempfile.mkdtemp(prefix="dex_late_audit_")
        ev = _t(spark, sf_dir, "events")
        on_time = ev.filter(F.col("event_id") % 4 != 0)
        stragglers = ev.filter(F.col("event_id") % 4 == 0)
        # driver-side scalar: the sentinel timestamps (1 row — metadata-sized)
        mx = ev.groupBy().agg(F.max("ts").alias("m")).collect()[0]["m"]
        filler = spark.createDataFrame(
            [(-9, mx, -1, "zzz_filler", 0.0, "{}")], ev.schema
        )
        sent = [
            spark.createDataFrame(
                [(-(i + 1), mx + timedelta(days=30 * (i + 1)), -1,
                  f"zzz_sentinel{i}", 0.0, "{}")],
                ev.schema,
            )
            for i in range(2)
        ]
        src = os.path.join(loc, "src")
        os.makedirs(src, exist_ok=True)
        for i, frame in enumerate([on_time, filler, stragglers, *sent]):
            stage = os.path.join(loc, f"stage{i}")
            frame.coalesce(1).write.mode("overwrite").parquet(stage)
            part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
            dst = os.path.join(src, f"{i:02d}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            # file order IS the batch order: distinct mtimes make the file
            # source's timestamp ordering deterministic
            os.utime(dst, (1704067200 + i * 60, 1704067200 + i * 60))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = windowed_counts(
            stream, ts_col="ts", keys=("event_type",),
            window="1 hour", watermark="2 hours",
        )
        qname = "late_audit_" + os.path.basename(loc).replace("-", "_")
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(loc, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("streaming drain did not finish within 300s")
        res = (
            spark.table(qname)
            .filter(~F.col("event_type").startswith("zzz_"))
            .select(
                F.date_format("window_start", TS_FMT_SPARK).alias("window_start"),
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
            )
        )
        # observed drop accounting: every real input row either landed in a
        # finalized window (the sentinels force full finalization) or was
        # dropped late — so input minus emitted IS the drop count (2 driver
        # scalars, metadata-sized)
        n_input = ev.count()
        n_emitted = res.groupBy().agg(F.sum("n_events")).collect()[0][0] or 0
        audit = spark.createDataFrame(
            [("__ALL__", "__late_dropped__", n_input - n_emitted)],
            "window_start string, event_type string, n_events bigint",
        )
        res.unionByName(audit).write.mode("overwrite").parquet(
            os.path.join(loc, "result")
        )
        _LAKE_DEMO_CACHE[key] = loc
    return (
        spark.read.parquet(os.path.join(loc, "result"))
        .orderBy("window_start", "event_type")
    )


ORACLE_LATE_AUDIT = f"""
WITH r AS (
  SELECT event_type, (event_id % 4 = 0) AS straggler,
         DATE_TRUNC('hour', ts) AS ws,
         DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS we
  FROM events),
wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS wm1
       FROM events WHERE event_id % 4 <> 0),
kept AS (SELECT r.* FROM r, wm WHERE NOT straggler OR we > wm1)
SELECT * FROM (
  SELECT STRFTIME(ws, '{TS_FMT_DUCK}') AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM kept GROUP BY 1, 2
  UNION ALL
  SELECT '__ALL__', '__late_dropped__', CAST(COUNT(*) AS BIGINT)
  FROM r, wm WHERE straggler AND we <= wm1)
ORDER BY window_start, event_type
"""


def _edit_feed(spark, sf_dir):
    """Deterministic version feed over the documents corpus (the synthetic
    stand-in for a repo-file WAL): every doc is created (lsn 4d), docs
    %3==0 are modified (lsn 4d+1; %5==0 among them modify to the SAME
    content — a no-op edit), docs %7==0 are deleted (lsn 4d+2), docs
    %14==0 are re-created after their delete (lsn 4d+3)."""
    base = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        "doc_id",
        "text",
    )
    v1 = base.select(
        "repo", "path",
        (F.col("doc_id") * 4).cast("bigint").alias("lsn"),
        F.lit("U").alias("op"),
        F.substring("text", 1, 80).alias("content"),
    )
    v2 = base.filter(F.col("doc_id") % 3 == 0).select(
        "repo", "path",
        (F.col("doc_id") * 4 + 1).cast("bigint").alias("lsn"),
        F.lit("U").alias("op"),
        F.when(F.col("doc_id") % 5 == 0, F.substring("text", 1, 80))
        .otherwise(F.col("text"))
        .alias("content"),
    )
    v3 = base.filter(F.col("doc_id") % 7 == 0).select(
        "repo", "path",
        (F.col("doc_id") * 4 + 2).cast("bigint").alias("lsn"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("content"),
    )
    v4 = base.filter(F.col("doc_id") % 14 == 0).select(
        "repo", "path",
        (F.col("doc_id") * 4 + 3).cast("bigint").alias("lsn"),
        F.lit("U").alias("op"),
        F.concat(F.lit("resurrected:"), F.substring("text", 1, 40)).alias(
            "content"
        ),
    )
    return v1.unionByName(v2).unionByName(v3).unionByName(v4)


def edit_pairs(spark, sf_dir):
    """Code-edit training pairs mined from the CDC version feed
    (operators/temporal.edit_pairs — CommitPack-style (before, after) file
    transitions): one lag window per (repo, path) classifies every version
    as create / modify / delete, carries both content images, and scores
    each modify with a capped-prefix Levenshtein (the locality proxy edit
    miners threshold on). The synthesized feed exercises all five edge
    shapes: create, modify, NO-OP modify (byte-identical content), delete,
    and create-after-delete (the prior image is gone, so it is a fresh
    create, not a modify).

    Scale shape: ONE hash exchange on (repo, path) + a lag window — the A1
    exchange family; the distance is a narrow JVM projection on bounded
    prefixes (full-text distance is O(len^2) per pair and stays behind the
    operator's ``distance_prefix`` opt-in, the neardup_editdist_verify
    honesty contract)."""
    feed = _edit_feed(spark, sf_dir)
    out = _temporal.edit_pairs(
        feed,
        key_cols=["repo", "path"],
        lsn_col="lsn",
        content_col="content",
        delete_predicate=F.col("op") == "D",
        distance_prefix=200,
    )
    return out.select(
        "repo",
        "path",
        "from_lsn",
        "to_lsn",
        "edit_kind",
        F.sha2("before_content", 256).alias("before_sha"),
        F.sha2("after_content", 256).alias("after_sha"),
        F.col("len_before").cast("bigint").alias("len_before"),
        F.col("len_after").cast("bigint").alias("len_after"),
        "is_noop",
        F.col("edit_distance").cast("bigint").alias("edit_distance"),
    ).orderBy("repo", "path", "to_lsn")


ORACLE_EDIT_PAIRS = """
WITH docs AS (
  SELECT doc_id, source AS repo,
         'doc/' || CAST(doc_id AS VARCHAR) AS path, text
  FROM documents),
feed AS (
  SELECT repo, path, CAST(doc_id * 4 AS BIGINT) AS lsn, 'U' AS op,
         SUBSTR(text, 1, 80) AS content FROM docs
  UNION ALL
  SELECT repo, path, CAST(doc_id * 4 + 1 AS BIGINT), 'U',
         CASE WHEN doc_id % 5 = 0 THEN SUBSTR(text, 1, 80) ELSE text END
  FROM docs WHERE doc_id % 3 = 0
  UNION ALL
  SELECT repo, path, CAST(doc_id * 4 + 2 AS BIGINT), 'D', NULL
  FROM docs WHERE doc_id % 7 = 0
  UNION ALL
  SELECT repo, path, CAST(doc_id * 4 + 3 AS BIGINT), 'U',
         'resurrected:' || SUBSTR(text, 1, 40)
  FROM docs WHERE doc_id % 14 = 0),
x AS (
  SELECT *, LAG(lsn) OVER w AS prev_lsn,
         LAG(content) OVER w AS prev_content,
         LAG(op = 'D') OVER w AS prev_del
  FROM feed WINDOW w AS (PARTITION BY repo, path ORDER BY lsn)),
p AS (
  SELECT *, (prev_lsn IS NOT NULL AND NOT prev_del) AS present,
         CASE WHEN prev_lsn IS NOT NULL AND NOT prev_del
              THEN prev_content END AS before_c,
         CASE WHEN op <> 'D' THEN content END AS after_c
  FROM x),
k AS (
  SELECT *, CASE WHEN op = 'D' AND present THEN 'delete'
                 WHEN op = 'D' THEN NULL
                 WHEN present THEN 'modify'
                 ELSE 'create' END AS edit_kind
  FROM p)
SELECT repo, path,
       CASE WHEN present THEN prev_lsn END AS from_lsn,
       lsn AS to_lsn,
       edit_kind,
       SHA256(before_c) AS before_sha,
       SHA256(after_c) AS after_sha,
       CAST(LENGTH(before_c) AS BIGINT) AS len_before,
       CAST(LENGTH(after_c) AS BIGINT) AS len_after,
       (before_c IS NOT NULL AND after_c IS NOT NULL
        AND before_c = after_c) AS is_noop,
       CAST(CASE WHEN before_c IS NOT NULL AND after_c IS NOT NULL
                 THEN LEVENSHTEIN(SUBSTR(before_c, 1, 200),
                                  SUBSTR(after_c, 1, 200)) END
            AS BIGINT) AS edit_distance
FROM k WHERE edit_kind IS NOT NULL
ORDER BY repo, path, to_lsn
"""


def co_change_graph(spark, sf_dir):
    """Commit co-change graph from the version feed: files edited in the
    same change-group form an edge, weighted by how many groups they
    co-occur in — the co-edit signal context packers (repo_context_pack)
    and co-edit-prediction models consume (the public analogue is mining
    file co-change from VCS history). Two overlapping deterministic commit
    waves give weights > 1; groups are capped at GROUP_CAP paths (ordered
    by path) BEFORE the pair self-join, so the blow-up is cap^2 per group
    — the same binding-cap contract as minhash_dup_pairs_capped.

    Scale shape: distinct (wave, group, path) -> row_number cap -> equi
    self-join ON the group key (never cross-group) -> hash agg on the
    canonical pair; O(cap^2 * n_groups) pairs by construction, map-side
    combinable weight sum."""
    # group width 320 lsn = 80 doc_ids = 4 docs per repo (sources cycle
    # doc_id % 20), so each (repo, grp) holds 4 paths and cap=3 BINDS —
    # the capped-blow-up contract is exercised, not just documented
    cap = 3
    feed = _edit_feed(spark, sf_dir).filter(F.col("op") == "U")
    waves = feed.select(
        "repo", "path",
        F.floor(F.col("lsn") / 320).cast("bigint").alias("grp"),
        F.lit(0).alias("wave"),
    ).unionByName(
        feed.select(
            "repo", "path",
            F.floor((F.col("lsn") + 160) / 320).cast("bigint").alias("grp"),
            F.lit(1).alias("wave"),
        )
    ).distinct()
    w = Window.partitionBy("wave", "repo", "grp").orderBy("path")
    capped = (
        waves.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = a.join(
        b,
        (F.col("a.wave") == F.col("b.wave"))
        & (F.col("a.repo") == F.col("b.repo"))
        & (F.col("a.grp") == F.col("b.grp"))
        & (F.col("a.path") < F.col("b.path")),
    ).select(
        F.col("a.repo").alias("repo"),
        F.col("a.path").alias("path_a"),
        F.col("b.path").alias("path_b"),
    )
    return (
        pairs.groupBy("repo", "path_a", "path_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
        .orderBy("repo", "path_a", "path_b")
    )


ORACLE_CO_CHANGE = """
WITH docs AS (
  SELECT doc_id, source AS repo,
         'doc/' || CAST(doc_id AS VARCHAR) AS path, text
  FROM documents),
feed AS (
  SELECT repo, path, CAST(doc_id * 4 AS BIGINT) AS lsn FROM docs
  UNION ALL
  SELECT repo, path, CAST(doc_id * 4 + 1 AS BIGINT)
  FROM docs WHERE doc_id % 3 = 0
  UNION ALL
  SELECT repo, path, CAST(doc_id * 4 + 3 AS BIGINT)
  FROM docs WHERE doc_id % 14 = 0),
waves AS (
  SELECT DISTINCT 0 AS wave, repo, lsn // 320 AS grp, path FROM feed
  UNION
  SELECT DISTINCT 1 AS wave, repo, (lsn + 160) // 320 AS grp, path FROM feed),
capped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY wave, repo, grp ORDER BY path) AS rn
    FROM waves) WHERE rn <= 3)
SELECT a.repo, a.path AS path_a, b.path AS path_b,
       CAST(COUNT(*) AS BIGINT) AS weight
FROM capped a JOIN capped b
  ON a.wave = b.wave AND a.repo = b.repo AND a.grp = b.grp
 AND a.path < b.path
GROUP BY a.repo, a.path, b.path
ORDER BY a.repo, path_a, path_b
"""


def stream_stream_join(spark, sf_dir):
    """Watermarked STREAM-STREAM interval join under the oracle gate: the
    purchases stream inner-joins the clicks stream on user_id with a
    24-hour event-time range (click within the day before the purchase),
    both sides watermarked at 48 h, append mode. Each side drains a
    ts-contiguous mtime-ordered file backlog one file per micro-batch, so
    event time advances monotonically (up to one file's span) on both
    sides; because the watermark delay (48 h) exceeds the join range
    (24 h), state eviction can never discard a row a future row still
    needs — the streamed result must therefore equal the BATCH interval
    join exactly, which is what DuckDB computes.

    Scale shape: this is Spark's symmetric-hash stream-stream join — state
    per side is bounded by (watermark delay + range) of event time, keyed
    and co-partitioned on user_id; the oracle-certified claim is exactness
    of the bounded-state streaming plan vs the unbounded batch join.
    """
    import shutil
    import tempfile

    key = f"{sf_dir}::ssjoin"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and os.path.exists(os.path.join(loc, "result"))):
        loc = tempfile.mkdtemp(prefix="dex_ssjoin_")
        ev = _t(spark, sf_dir, "events")
        n_files = 3
        w = Window.orderBy("ts", "event_id")
        sides = {
            "p": ev.filter(F.col("event_type") == "purchase"),
            "c": ev.filter(F.col("event_type") == "click"),
        }
        for side, frame in sides.items():
            chunked = frame.withColumn("__f", F.ntile(n_files).over(w))
            src = os.path.join(loc, side)
            os.makedirs(src, exist_ok=True)
            for i in range(1, n_files + 1):
                stage = os.path.join(loc, f"stage_{side}{i}")
                (
                    chunked.filter(F.col("__f") == i)
                    .drop("__f")
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(stage)
                )
                part = [
                    f for f in os.listdir(stage) if f.endswith(".parquet")
                ][0]
                dst = os.path.join(src, f"{i:02d}.parquet")
                shutil.move(os.path.join(stage, part), dst)
                os.utime(dst, (1704067200 + i * 60, 1704067200 + i * 60))
        schema = ev.schema
        p = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(loc, "p"))
            # watermarks require TIMESTAMP (ltz); parquet carries ntz and
            # the session tz is pinned UTC, so the hop is identity
            .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
            .withWatermark("ts", "48 hours")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
        )
        c = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(loc, "c"))
            .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
            .withWatermark("ts", "48 hours")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
        )
        joined = p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "inner",
        )
        qname = "ssjoin_" + os.path.basename(loc).replace("-", "_")
        # the state-store partition count is frozen at the shuffle-partition
        # conf of the FIRST batch; at sf<=0.1 the join state is tiny, so 4
        # state partitions (vs the session's 32) cuts the per-micro-batch
        # state-store open/commit overhead ~8x. Cluster runs would keep the
        # session default — the knob is per-query, not a semantic change.
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = (
                joined.select("purchase_id", "click_id", "user_id")
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(loc, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError("streaming drain did not finish within 300s")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.table(qname).write.mode("overwrite").parquet(
            os.path.join(loc, "result")
        )
        _LAKE_DEMO_CACHE[key] = loc
    return (
        spark.read.parquet(os.path.join(loc, "result"))
        .select(
            F.col("purchase_id").cast("bigint").alias("purchase_id"),
            F.col("click_id").cast("bigint").alias("click_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
        )
        .orderBy("purchase_id", "click_id")
    )


def join_view_read(spark, sf_dir):
    """Engine.join_table under the oracle gate: an incrementally-maintained
    JOIN materialized view (delta-join IVM) across TWO changing keyed
    tables. A fact WAL synthesized from `documents` (epoch 0 INSERTs a
    50-char preview, epoch 1 UPDATEs to the full text or DELETEs every 7th
    doc) runs through the real Engine.apply_epoch while a `repo_meta` dim
    table keyed by repo takes its own two epochs through apply_dim_epoch
    (epoch 0 inserts license/stars for every source, epoch 1 boosts stars
    for even-numbered repos and DELETEs repos with n%5==4). The epochs
    INTERLEAVE (d0, m0, d1, m1) so both maintenance directions execute:
    fact changes join the dim's current state; dim changes re-derive
    exactly the changed repos' fact rows (keys_in subset read below the
    MoR resolve + in-list manifest skipping). The final view must equal
    the plain batch join DuckDB computes from `documents`.

    Reference analogue: the gold pipeline's per-batch lookup enrichment
    (runHL7GoldPipelineFull.scala:115-156) maintained as a table instead of
    recomputed per query.

    Scale shape: O(changes) per epoch on either side — a dim epoch
    touching k repos reads only those repos' fact rows, never the table;
    exactly-once across tables via per-parent-namespaced epoch manifests
    (`repo_files:0` vs `repo_meta:0`), crash between any pair of commits
    converges on resume (tests/test_join_view.py)."""
    import tempfile

    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::joinview"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "files_meta"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_joinview_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        dim = LakeTable.create(
            spark,
            os.path.join(loc, "repo_meta"),
            [
                ("repo", "string"),
                ("license", "string"),
                ("stars", "bigint"),
                ("last_lsn", "bigint"),
            ],
            ["repo"],
            n_buckets=4,
            order_col="last_lsn",
        )
        eng.join_table(
            "files_meta",
            dim,
            on=["repo"],
            main_cols=["lang", "content_sha256", "size_bytes"],
            dim_cols=["license", "stars"],
            n_buckets=8,
        )
        docs = _t(spark, sf_dir, "documents")
        srcs = docs.select("source").distinct()
        n = F.substring("source", 4, 10).cast("int")
        lic = (
            F.when(n % 3 == 0, F.lit("mit"))
            .when(n % 3 == 1, F.lit("apache"))
            .otherwise(F.lit("gpl"))
        )
        d0 = srcs.select(
            F.col("source").alias("repo"),
            lic.alias("license"),
            ((n + 1) * 10).cast("bigint").alias("stars"),
            F.lit(1).cast("bigint").alias("last_lsn"),
            F.lit("U").alias("__op"),
        )
        d1 = (
            srcs.filter((n % 2 == 0) & (n % 5 != 4)).select(
                F.col("source").alias("repo"),
                lic.alias("license"),
                ((n + 1) * 10 + 1000).cast("bigint").alias("stars"),
                F.lit(2).cast("bigint").alias("last_lsn"),
                F.lit("U").alias("__op"),
            )
        ).unionByName(
            srcs.filter(n % 5 == 4).select(
                F.col("source").alias("repo"),
                F.lit(None).cast("string").alias("license"),
                F.lit(None).cast("bigint").alias("stars"),
                F.lit(2).cast("bigint").alias("last_lsn"),
                F.lit("D").alias("__op"),
            )
        )
        base = docs.select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
            "doc_id",
            "lang",
            "text",
        )
        v1 = base.select(
            F.lit("INSERT").alias("op"),
            (F.col("doc_id") * 2).alias("lsn"),
            "repo",
            "path",
            "lang",
            F.substring("text", 1, 50).alias("content"),
        )
        v2 = base.select(
            F.when(F.col("doc_id") % 7 == 0, F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("op"),
            (F.col("doc_id") * 2 + 1).alias("lsn"),
            "repo",
            "path",
            "lang",
            F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("text"))
            .alias("content"),
        )

        def _wal(frame):
            return (
                frame.withColumn(
                    "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("lsn"))
                )
                .withColumn("new_path", F.lit(None).cast("string"))
                .withColumn("commit", F.sha2(F.col("path"), 256).substr(1, 40))
                .withColumn("schema_field", F.lit(None).cast("string"))
                .withColumn(
                    "supporting_metadata",
                    F.create_map().cast("map<string,string>"),
                )
                .withColumn(
                    "event_id",
                    F.sha2(
                        F.concat_ws("|", "repo", "path", F.col("lsn").cast("string")),
                        256,
                    ),
                )
            )

        eng.apply_dim_epoch(dim, d0, epoch=0)
        eng.apply_epoch(_wal(v1), table, epoch=0, collect_metrics=False)
        eng.apply_dim_epoch(dim, d1, epoch=1)
        eng.apply_epoch(_wal(v2), table, epoch=1, collect_metrics=False)
        _LAKE_DEMO_CACHE[key] = loc
    view = LakeTable(spark, os.path.join(loc, "files_meta"))
    return (
        view.snapshot()
        .select(
            "repo",
            "path",
            "lang",
            "content_sha256",
            F.col("size_bytes").cast("int").alias("size_bytes"),
            F.col("last_lsn").cast("bigint").alias("last_lsn"),
            "license",
            F.col("stars").cast("bigint").alias("stars"),
        )
        .orderBy("repo", "path")
    )


# TRIM set mirrors operators/normalize.py TRIM_SET (BOM + Java-regex \s);
# oracle dtype convention: explicit BIGINT/INT casts on every numeric
ORACLE_JOIN_VIEW = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents),
dims AS (
  SELECT source AS repo, CAST(substr(source, 4, 10) AS INT) AS n
  FROM (SELECT DISTINCT source FROM documents)),
dimv AS (
  SELECT repo,
         CASE n % 3 WHEN 0 THEN 'mit' WHEN 1 THEN 'apache' ELSE 'gpl' END AS license,
         CAST((n + 1) * 10 + CASE WHEN n % 2 = 0 THEN 1000 ELSE 0 END AS BIGINT) AS stars
  FROM dims WHERE n % 5 <> 4)
SELECT source AS repo,
       'doc/' || CAST(doc_id AS VARCHAR) AS path,
       lang,
       sha256(b) AS content_sha256,
       CAST(len(b) AS INT) AS size_bytes,
       CAST(doc_id * 2 + 1 AS BIGINT) AS last_lsn,
       license,
       stars
FROM body JOIN dimv ON body.source = dimv.repo
WHERE doc_id % 7 <> 0 AND len(b) > 0
ORDER BY repo, path
"""


ORACLE_SS_JOIN = """
SELECT CAST(p.event_id AS BIGINT) AS purchase_id,
       CAST(c.event_id AS BIGINT) AS click_id,
       CAST(p.user_id AS BIGINT) AS user_id
FROM (SELECT event_id, ts, user_id FROM events
      WHERE event_type = 'purchase') p
JOIN (SELECT event_id, ts, user_id FROM events
      WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
ORDER BY purchase_id, click_id
"""


# ================== manifest-stats integrity (files inspect) ===============


def files_inspect_read(spark, sf_dir):
    """Iceberg-style metadata-table surface under the oracle gate: table-level
    statistics computed ENTIRELY from the snapshot manifest + parquet
    footers — zero data pages read — must equal an external semantic
    recomputation of the table's contents. This is the integrity contract
    behind every stats-based optimization the engine ships (file skipping,
    `filtered_snapshot_read`, z-order pruning, the 'in'-list manifest skip):
    if manifest bounds ever drifted from the physical rows, pruning would
    silently drop data; this query makes that drift an oracle-visible red
    cell. Reference analogue: the processing-status metadata surface
    (pstatus-report-sink-fns's table/row counters) re-expressed as Iceberg
    lower/upper-bound manifests.

    Scale shape: manifests + footers are metadata (O(files), driver-side by
    design — the same discipline as `_collect_stats`); nothing here touches
    a data page, which is the point: at 100 TB this query costs the same as
    at 100 MB."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.operators.dedup import latest_by_key

    key = f"{sf_dir}::inspect"
    loc = _LAKE_DEMO_CACHE.get(key)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_lake_inspect_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("event_id", "bigint"),
            ],
            key_cols=["user_id", "event_type"],
            n_buckets=2,
            order_col="event_id",
        )
        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
        changes = latest_by_key(
            ev, ["user_id", "event_type"], ["event_id"]
        ).withColumn("__op", F.lit("U"))
        t.merge(changes, epoch=1)
        t.compact()  # the read-optimized cadence: stats describe base files
        _LAKE_DEMO_CACHE[key] = loc

    # row count through the advertised metadata-table surface (footer
    # metadata only — no data pages, O(files))
    n_rows = (
        t.meta_files().filter(F.col("kind") == "base").agg(F.sum("record_count"))
    ).collect()[0][0]
    snap = t.current_snapshot()
    lo_uid = hi_uid = lo_eid = hi_eid = None
    for b in snap["buckets"].values():
        stats = b.get("stats", {})
        for rel in b["files"]:
            st = stats.get(rel, {})
            if "user_id" in st:
                lo, hi = st["user_id"]
                lo_uid = lo if lo_uid is None or lo < lo_uid else lo_uid
                hi_uid = hi if hi_uid is None or hi > hi_uid else hi_uid
            if "event_id" in st:
                lo, hi = st["event_id"]
                lo_eid = lo if lo_eid is None or lo < lo_eid else lo_eid
                hi_eid = hi if hi_eid is None or hi > hi_eid else hi_eid
    rows = [
        ("max_last_event_id", int(hi_eid)),
        ("max_user_id", int(hi_uid)),
        ("min_last_event_id", int(lo_eid)),
        ("min_user_id", int(lo_uid)),
        ("n_rows", int(n_rows)),
    ]
    return spark.createDataFrame(rows, "metric string, value bigint").orderBy(
        "metric"
    )


ORACLE_FILES_INSPECT = """
WITH kept AS (
  SELECT user_id, event_id
  FROM (SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY event_id DESC) AS rn
        FROM events)
  WHERE rn = 1)
SELECT metric, value FROM (
  SELECT 'n_rows' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM kept
  UNION ALL
  SELECT 'min_user_id', CAST(MIN(user_id) AS BIGINT) FROM kept
  UNION ALL
  SELECT 'max_user_id', CAST(MAX(user_id) AS BIGINT) FROM kept
  UNION ALL
  SELECT 'min_last_event_id', CAST(MIN(event_id) AS BIGINT) FROM kept
  UNION ALL
  SELECT 'max_last_event_id', CAST(MAX(event_id) AS BIGINT) FROM kept)
ORDER BY metric
"""


def purge_cascade_read(spark, sf_dir):
    """Engine.purge_where's lineage cascade under the oracle gate: the same
    WAL/derived-table setup as `derived_file_stats` (epoch 0 through the
    real Engine.apply_epoch with the file_stats derived registered), then a
    takedown of one whole repo as epoch 1 — and the query reads the DERIVED
    table, not the main one. Its state must equal DuckDB's per-key-latest
    stats with the purged repo absent: the compliance contract that
    content-derived rows (stats, signatures) never outlive a purge of their
    source rows (ADVICE r3; reference analogue: the Cosmos upsert sink's
    keyed delete, K3 semantics, extended across the silver lineage).

    Scale shape: the purge reads only the matching keys (predicate pushed
    into the snapshot read), tombstones ride the normal O(changes) keyed
    merge on BOTH tables with per-table epoch manifests (exactly-once
    across the lineage; crash between commits converges on resume —
    tests/test_e2e_apply.py::test_purge_crash_between_tables)."""
    import tempfile

    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )
    from data_exchange_hl7_spark.lake.table import LakeTable

    key = f"{sf_dir}::purgecascade"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and LakeTable.exists(os.path.join(loc, "file_stats"))):
        loc = tempfile.mkdtemp(prefix="dex_engine_purgecascade_")
        eng = Engine(spark, loc, n_buckets=8)
        table = eng.snapshot_table("repo_files")
        eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
        eng.apply_epoch(
            _derived_demo_wal(spark, sf_dir), table, epoch=0, collect_metrics=False
        )
        eng.purge_where(table, "repo = 'src1'", epoch=1)
        _LAKE_DEMO_CACHE[key] = loc
    stats_t = LakeTable(spark, os.path.join(loc, "file_stats"))
    return (
        stats_t.snapshot()
        .select(
            "repo", "path", "lang", "n_lines", "n_tokens", "content_sha256", "last_lsn"
        )
        .orderBy("repo", "path")
    )


ORACLE_PURGE_CASCADE = """
WITH body AS (
  SELECT *, TRIM(text, chr(65279) || ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS b
  FROM documents)
SELECT source AS repo,
       'doc/' || CAST(doc_id AS VARCHAR) AS path,
       lang,
       CAST(len(string_split(b, chr(10))) AS INT) AS n_lines,
       CAST(len(list_filter(string_split(b, ' '), x -> len(x) > 0)) AS INT) AS n_tokens,
       sha256(b) AS content_sha256,
       CAST(doc_id * 2 + 1 AS BIGINT) AS last_lsn
FROM body
WHERE doc_id % 7 <> 0 AND len(b) > 0 AND source <> 'src1'
ORDER BY repo, path
"""


def stream_stream_left_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER interval join under the oracle
    gate — the half of the stream-join contract `stream_stream_join`
    (inner) cannot certify: unmatched purchases must be EMITTED WITH NULLS,
    and only once the watermark proves no matching click can still arrive
    (state-eviction-driven emission, not a batch fallback). A left row's
    latest possible match is c_ts = p_ts, so its null row becomes emittable
    when the watermark passes p_ts; to flush the final rows when the
    backlog ends, each side's file queue is closed by a far-future
    SENTINEL event (ts = max + 10 days — the production heartbeat/flush
    pattern for bounded replays of unbounded joins), filtered back out of
    the result. The streamed rows must equal DuckDB's batch LEFT JOIN
    exactly.

    Scale shape: same symmetric-hash join as the inner variant — per-side
    state bounded by (watermark delay + range) of event time, keyed and
    co-partitioned on user_id; the null-emission adds no state, it is the
    eviction path itself."""
    import shutil
    import tempfile

    key = f"{sf_dir}::ssljoin"
    loc = _LAKE_DEMO_CACHE.get(key)
    if not (loc and os.path.exists(os.path.join(loc, "result"))):
        loc = tempfile.mkdtemp(prefix="dex_ssljoin_")
        ev = _t(spark, sf_dir, "events")
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        n_files = 3
        w = Window.orderBy("ts", "event_id")
        sides = {
            "p": ev.filter(F.col("event_type") == "purchase"),
            "c": ev.filter(F.col("event_type") == "click"),
        }
        cols = ["event_id", "ts", "user_id", "event_type"]
        for side, frame in sides.items():
            chunked = frame.select(*cols).withColumn(
                "__f", F.ntile(n_files).over(w)
            )
            src = os.path.join(loc, side)
            os.makedirs(src, exist_ok=True)
            flush = (
                ev.limit(1)
                .select(
                    F.lit(-1).cast("long").alias("event_id"),
                    (
                        F.lit(max_ts).cast("timestamp")
                        + F.expr("INTERVAL 240 HOURS")
                    ).alias("ts"),
                    F.lit(-999).cast("long").alias("user_id"),
                    F.lit(side).alias("event_type"),
                )
            )
            pieces = [
                chunked.filter(F.col("__f") == i).drop("__f")
                for i in range(1, n_files + 1)
            ] + [flush]
            for i, piece in enumerate(pieces, start=1):
                stage = os.path.join(loc, f"stage_{side}{i}")
                piece.coalesce(1).write.mode("overwrite").parquet(stage)
                part = [
                    f for f in os.listdir(stage) if f.endswith(".parquet")
                ][0]
                dst = os.path.join(src, f"{i:02d}.parquet")
                shutil.move(os.path.join(stage, part), dst)
                os.utime(dst, (1704067200 + i * 60, 1704067200 + i * 60))
        schema = "event_id long, ts timestamp, user_id long, event_type string"
        p = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(loc, "p"))
            .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
            .withWatermark("ts", "48 hours")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
        )
        c = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(loc, "c"))
            .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
            .withWatermark("ts", "48 hours")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
        )
        joined = p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "leftOuter",
        )
        qname = "ssljoin_" + os.path.basename(loc).replace("-", "_")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = (
                joined.select("purchase_id", "click_id", "user_id")
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(loc, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError("streaming drain did not finish within 300s")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.table(qname).filter(F.col("purchase_id") >= 0).write.mode(
            "overwrite"
        ).parquet(os.path.join(loc, "result"))
        _LAKE_DEMO_CACHE[key] = loc
    return (
        spark.read.parquet(os.path.join(loc, "result"))
        .select(
            F.col("purchase_id").cast("bigint").alias("purchase_id"),
            F.col("click_id").cast("bigint").alias("click_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
        )
        .orderBy("purchase_id", "click_id")
    )


ORACLE_SSL_JOIN = """
SELECT CAST(p.event_id AS BIGINT) AS purchase_id,
       CAST(c.event_id AS BIGINT) AS click_id,
       CAST(p.user_id AS BIGINT) AS user_id
FROM (SELECT event_id, ts, user_id FROM events
      WHERE event_type = 'purchase') p
LEFT JOIN (SELECT event_id, ts, user_id FROM events
           WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
ORDER BY purchase_id, click_id
"""


# ================= composed end-to-end corpus build ========================

_CORPUS_BUILD_CACHE: dict[str, str] = {}

# Stage knobs — shared by the Spark plan and the oracle so both engines
# compute identical gates.
CB_MIN_TOKENS = 12        # write-time CHECK constraint on the lake table
CB_QUALITY_MIN_TOK = 15   # quality gate: token-count floor
CB_QUALITY_CHARS_PER_TOK = 12  # quality gate: mean-token-length ceiling
CB_DECON_NGRAM = 5        # decontamination shingle width
CB_EVAL_MOD = 25          # doc_id % CB_EVAL_MOD == 0 -> benchmark eval doc
CB_KEEP_PM10 = 7          # mixing: keep ceil(0.7 * n) per source
CB_SHARD_SIZE = 16        # docs per training shard


def _cb_ntok(col):
    """Whitespace token count, identical in both engines
    (LEN(LIST_FILTER(STR_SPLIT(..)))) — the corpus token-budget unit."""
    return F.size(
        F.filter(F.split(col, " "), lambda t: F.length(t) > 0)
    ).cast("bigint")


def corpus_build_read(spark, sf_dir):
    """END-TO-END training-corpus build: every stage of a real data release
    chained through the ENGINE path in one oracle-gated query — the
    composition certificate the per-stage queries can't give. Reference
    analogue: the full-pipeline POC the reference publishes as ONE run
    (spikes/databricks-pipeline/runHL7_Full_Pipeline.scala:64-94), here as
    CDC ingest -> constraint gate -> exact dedup -> quality gate ->
    decontamination -> domain mixing -> shard plan.

    Fixture (all deterministic, both engines): documents + the standard
    synthesized duplicates (every 10th doc re-keyed +1e6) arrive as a
    2-epoch WAL over a MoR lake table with a write-time CHECK constraint
    (n_tok >= CB_MIN_TOKENS): epoch 1 inserts every doc; epoch 2 deletes
    doc_id%17==0 (tombstones are constraint-exempt) and updates
    doc_id%5==0 — where doc_id%31==0 the update is a 2-token stub that the
    constraint QUARANTINES, so the table must keep the v1 row (gate
    precedence over upsert, the DLT-expectation contract).

    Downstream of the lake state: exact dedup keeps min-doc_id per
    md5(text) group (hash agg, no window); quality keeps docs with
    n_tok >= CB_QUALITY_MIN_TOK and mean token length <=
    CB_QUALITY_CHARS_PER_TOK (integer predicate: len <= k * n_tok, no
    float); decontamination drops docs sharing any 5-gram with the static
    eval suite (doc_id%25==0 of the ORIGINAL corpus — the benchmark is
    external, so it is NOT read from the evolving table), eval shingles
    broadcast, corpus side never shuffles; mixing keeps ceil(0.7*n) docs
    per source by deterministic md5 rank (rnk*10 <= 7*n + 9, pure integer
    ceil); the shard plan assigns a global position via per-source rank +
    broadcast offset rebase (the certified shard_plan pattern — no global
    window over the corpus) and cuts CB_SHARD_SIZE-doc shards.

    Output: one audit row per source with the surviving count after every
    stage plus kept token mass and shards spanned — the release report a
    data build publishes.

    Scale shape: the WAL/CDC path is the flagship apply (bucketed MoR
    merges, O(changes) epochs); dedup/quality are one hash agg + narrow
    filters; decon broadcasts the (small) eval shingle set; the only
    windows are per-source ranks over a bounded domain dim (the
    domain_mix_plan pattern) and a 20-row offset cumsum — nothing global,
    nothing Python."""
    import tempfile

    from data_exchange_hl7_spark.lake.table import LakeTable

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    loc = _CORPUS_BUILD_CACHE.get(sf_dir)
    if loc and LakeTable.exists(loc):
        t = LakeTable(spark, loc)
    else:
        loc = tempfile.mkdtemp(prefix="dex_corpus_build_")
        t = LakeTable.create(
            spark,
            loc,
            schema=[
                ("doc_id", "bigint"),
                ("source", "string"),
                ("text", "string"),
                ("n_tok", "bigint"),
                ("ver", "bigint"),
            ],
            key_cols=["doc_id"],
            n_buckets=8,
            order_col="ver",
        )
        t.add_check_constraint("min_tokens", f"n_tok >= {CB_MIN_TOKENS}")
        corpus0 = d.unionByName(
            d.filter(F.col("doc_id") % 10 == 0).withColumn(
                "doc_id", F.col("doc_id") + 1_000_000
            )
        )
        v1 = corpus0.withColumn("ver", F.lit(1).cast("bigint")).withColumn(
            "__op", F.lit("U")
        )
        upd = (
            corpus0.filter(
                (F.col("doc_id") % 17 != 0) & (F.col("doc_id") % 5 == 0)
            )
            .withColumn(
                "text",
                F.when(F.col("doc_id") % 31 == 0, F.lit("tiny v2")).otherwise(
                    F.concat(F.col("text"), F.lit(" updated v2 tail ok"))
                ),
            )
            .withColumn("ver", F.lit(2).cast("bigint"))
            .withColumn("__op", F.lit("U"))
        )
        dels = (
            corpus0.filter(F.col("doc_id") % 17 == 0)
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn("ver", F.lit(2).cast("bigint"))
            .withColumn("__op", F.lit("D"))
        )
        for epoch, ch in ((1, v1), (2, upd.unionByName(dels))):
            ch = ch.withColumn(
                "n_tok",
                F.when(F.col("text").isNotNull(), _cb_ntok("text")),
            )
            t.merge(
                ch.select("doc_id", "source", "text", "n_tok", "ver", "__op"),
                epoch=epoch,
            )
        _CORPUS_BUILD_CACHE[sf_dir] = loc

    state = t.snapshot().select("doc_id", "source", "text", "n_tok")

    # --- exact dedup: min-doc_id keeper per content hash (agg, no window)
    hashed = state.withColumn("h", F.md5("text"))
    keeper = hashed.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    dedup = (
        hashed.join(keeper, "h")
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("h", "keeper")
    )

    # --- quality gate: integer-only predicate (no float boundary risk)
    quality = dedup.filter(
        (F.col("n_tok") >= CB_QUALITY_MIN_TOK)
        & (F.length("text") <= CB_QUALITY_CHARS_PER_TOK * F.col("n_tok"))
    )

    # --- decontamination vs the static eval suite (broadcast eval side)
    hsh = F.substring(F.md5("shingle"), 1, 16).alias("hsh")
    eval_sh = (
        qt._word_ngrams(
            d.filter(F.col("doc_id") % CB_EVAL_MOD == 0), CB_DECON_NGRAM
        )
        .select(hsh)
        .distinct()
    )
    train_sh = qt._word_ngrams(
        quality.select("doc_id", "text"), CB_DECON_NGRAM
    ).select("doc_id", hsh)
    contaminated = (
        train_sh.join(F.broadcast(eval_sh), "hsh").select("doc_id").distinct()
    )
    clean = quality.join(contaminated, "doc_id", "left_anti")

    # --- mixing: keep ceil(0.7*n) per source by deterministic md5 rank.
    # Per-source window over a bounded domain dim (domain_mix_plan shape).
    mix_key = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    w_src = Window.partitionBy("source").orderBy(*mix_key)
    ranked = clean.withColumn("rnk", F.row_number().over(w_src)).withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    kept = ranked.filter(
        F.col("rnk") * 10 <= F.col("cnt") * CB_KEEP_PM10 + 9
    ).drop("rnk", "cnt")

    # --- shard plan: per-source rank + broadcast offset rebase (the
    # certified shard_plan pattern; the only global window is over the
    # 20-row source dim)
    kept = kept.withColumn("krnk", F.row_number().over(w_src))
    kcnt = kept.groupBy("source").agg(F.count(F.lit(1)).alias("k"))
    w_off = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = kcnt.withColumn(
        "off", F.coalesce(F.sum("k").over(w_off), F.lit(0))
    ).select("source", "off")
    sharded = (
        kept.join(F.broadcast(offs), "source")
        .withColumn("gpos", F.col("off") + F.col("krnk"))
        .withColumn(
            "shard", F.floor((F.col("gpos") - 1) / CB_SHARD_SIZE)
        )
    )

    def _per_source(df, col, agg):
        return df.groupBy("source").agg(agg.alias(col))

    report = (
        _per_source(state, "n_state", F.count(F.lit(1)))
        .join(_per_source(dedup, "n_dedup", F.count(F.lit(1))), "source", "left")
        .join(_per_source(quality, "n_quality", F.count(F.lit(1))), "source", "left")
        .join(_per_source(clean, "n_clean", F.count(F.lit(1))), "source", "left")
        .join(_per_source(kept, "n_kept", F.count(F.lit(1))), "source", "left")
        .join(_per_source(kept, "tokens_kept", F.sum("n_tok")), "source", "left")
        .join(
            _per_source(sharded, "n_shards", F.countDistinct("shard")),
            "source",
            "left",
        )
    )
    cols = [
        "n_state", "n_dedup", "n_quality", "n_clean",
        "n_kept", "tokens_kept", "n_shards",
    ]
    return report.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in cols],
    ).orderBy("source")


def _cb_ngram_sql(corpus: str) -> str:
    joined = " || ' ' || ".join(
        f"l[i+{k}]" if k else "l[i]" for k in range(CB_DECON_NGRAM)
    )
    return f"""
  SELECT DISTINCT doc_id, SUBSTR(MD5(s), 1, 16) AS hsh
  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS l FROM {corpus}),
       UNNEST(LIST_TRANSFORM(
           GENERATE_SERIES(1, GREATEST(LEN(l) - {CB_DECON_NGRAM - 1}, 0)),
           i -> {joined})) AS u(s)
"""


ORACLE_CORPUS_BUILD = f"""
WITH corpus0 AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, text FROM documents
  WHERE doc_id % 10 = 0),
v AS (
  SELECT doc_id, source, text AS text1,
         CASE WHEN doc_id % 17 <> 0 AND doc_id % 5 = 0
              THEN CASE WHEN doc_id % 31 = 0 THEN 'tiny v2'
                   ELSE text || ' updated v2 tail ok' END
         END AS text2
  FROM corpus0),
nt AS (
  SELECT *,
         LEN(LIST_FILTER(STR_SPLIT(text1, ' '), x -> LEN(x) > 0)) AS n1,
         CASE WHEN text2 IS NULL THEN NULL
              ELSE LEN(LIST_FILTER(STR_SPLIT(text2, ' '), x -> LEN(x) > 0))
         END AS n2
  FROM v),
state AS (
  SELECT doc_id, source,
         CASE WHEN n2 IS NOT NULL AND n2 >= {CB_MIN_TOKENS} THEN text2
              WHEN n1 >= {CB_MIN_TOKENS} THEN text1 END AS text,
         CAST(CASE WHEN n2 IS NOT NULL AND n2 >= {CB_MIN_TOKENS} THEN n2
              WHEN n1 >= {CB_MIN_TOKENS} THEN n1 END AS BIGINT) AS n_tok
  FROM nt
  WHERE doc_id % 17 <> 0
    AND ((n2 IS NOT NULL AND n2 >= {CB_MIN_TOKENS})
         OR n1 >= {CB_MIN_TOKENS})),
keeper AS (
  SELECT MD5(text) AS h, MIN(doc_id) AS keeper FROM state GROUP BY MD5(text)),
dedup AS (
  SELECT s.* FROM state s
  JOIN keeper k ON MD5(s.text) = k.h AND s.doc_id = k.keeper),
quality AS (
  SELECT * FROM dedup
  WHERE n_tok >= {CB_QUALITY_MIN_TOK}
    AND LEN(text) <= {CB_QUALITY_CHARS_PER_TOK} * n_tok),
ev_sh AS (
  SELECT DISTINCT hsh FROM (
    {_cb_ngram_sql(f"(SELECT doc_id, text FROM documents WHERE doc_id % {CB_EVAL_MOD} = 0)")}
  )),
tr_sh AS ({_cb_ngram_sql("quality")}),
contaminated AS (SELECT DISTINCT doc_id FROM tr_sh JOIN ev_sh USING (hsh)),
clean AS (
  SELECT * FROM quality
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY source) AS cnt
  FROM clean),
kept AS (SELECT * FROM ranked WHERE rnk * 10 <= cnt * {CB_KEEP_PM10} + 9),
sharded AS (
  SELECT *, (ROW_NUMBER() OVER (ORDER BY source,
             MD5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
            // {CB_SHARD_SIZE} AS shard
  FROM kept)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_state,
       CAST(COALESCE(ANY_VALUE(dd.n), 0) AS BIGINT) AS n_dedup,
       CAST(COALESCE(ANY_VALUE(q.n), 0) AS BIGINT) AS n_quality,
       CAST(COALESCE(ANY_VALUE(c.n), 0) AS BIGINT) AS n_clean,
       CAST(COALESCE(ANY_VALUE(k.n), 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(ANY_VALUE(k.toks), 0) AS BIGINT) AS tokens_kept,
       CAST(COALESCE(ANY_VALUE(sh.n), 0) AS BIGINT) AS n_shards
FROM state s
LEFT JOIN (SELECT source, COUNT(*) AS n FROM dedup GROUP BY source) dd
       USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM quality GROUP BY source) q
       USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM clean GROUP BY source) c
       USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n, SUM(n_tok) AS toks
           FROM kept GROUP BY source) k USING (source)
LEFT JOIN (SELECT source, COUNT(DISTINCT shard) AS n FROM sharded
           GROUP BY source) sh USING (source)
GROUP BY s.source
ORDER BY s.source
"""
