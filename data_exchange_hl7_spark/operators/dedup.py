"""Latest-flag ordering / dedup — the reference's A1 operator, Spark-first.

The reference resolves per-case ordering with groupBy + collect_list +
self-join + a tie-break UDF (spikes/cbs-pipeline/gold/
latest_flag_and_sequencing.scala:49-151). That plan degrades superlinearly
(10M->20M rows: 2x data, 2.7x time — see BASELINE.md) because collect_list
materializes every group in memory and the self-join adds a second shuffle.

Here the whole operator is ONE window over ONE shuffle:

    row_number() OVER (PARTITION BY key ORDER BY <cascade> DESC)

The ordering cascade mirrors the reference's (OBR-22 -> MSH-7 -> ingest ts ->
file ts, latest_flag_and_sequencing.scala:77-142) but ends in a total order:
the reference admits irresolvable ties ("not_solvable_dupe",
latest_flag_and_sequencing.scala:122-123 TODO); we append event_id as the
final tie-break so every replay is deterministic (SURVEY.md section 7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_ORDER = ["lsn", "ts", "event_id"]


def _order_desc(order_cols: list[str]):
    return [F.col(c).desc_nulls_last() for c in order_cols]


def latest_by_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str] | None = None,
    keep_order_position: bool = False,
) -> DataFrame:
    """Keep the latest row per key under a deterministic total order.

    Single shuffle (hash partition by key), no self-join, no collect_list.
    """
    order_cols = order_cols or DEFAULT_ORDER
    w = Window.partitionBy(*key_cols).orderBy(*_order_desc(order_cols))
    out = df.withColumn("__rn", F.row_number().over(w))
    if keep_order_position:
        # reference emits (is_latest, order_position)
        # latest_flag_and_sequencing.scala:146-153
        out = out.withColumn("is_latest", F.col("__rn") == 1).withColumnsRenamed(
            {"__rn": "order_position"}
        )
        return out
    return out.filter(F.col("__rn") == 1).drop("__rn")


def latest_by_key_bucketed(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str] | None = None,
    bucket_col: str = "__bucket",
    n_buckets: int = 64,
) -> DataFrame:
    """Latest-per-key that leaves the data partitioned by storage bucket.

    The plain window shuffles on (key); the bucketed MERGE write then needs a
    SECOND full-content shuffle back to the bucket. Since bucket = f(key),
    one shuffle suffices: hash-partition by bucket, sort within the bucket by
    (key, order desc), and keep a row iff its key differs from the previous
    row's key (lag) — the first row of each key group IS the latest. Output
    rows keep ``bucket_col`` and arrive already partitioned by it, so the
    downstream partitionBy write is shuffle-free.

    Halves the wide-stage bytes of every epoch; same total order semantics
    as latest_by_key (tested equivalent).

    The exchange has no fixed count: AQE sizes it from the shuffle
    statistics, so a small epoch runs one task rather than one per bucket,
    and hash partitioning on ``bucket_col`` keeps each bucket whole in one
    task at any partition count. ``n_buckets`` no longer sizes anything;
    it is accepted and ignored.
    """
    order_cols = order_cols or DEFAULT_ORDER
    key_sig = F.concat_ws("\x1f", *[F.col(c) for c in key_cols])
    w = Window.partitionBy(bucket_col).orderBy(
        *[F.col(c) for c in key_cols], *_order_desc(order_cols)
    )
    out = (
        df.repartition(bucket_col)
        .withColumn("__prev_key", F.lag(key_sig).over(w))
        .filter(F.col("__prev_key").isNull() | (F.col("__prev_key") != key_sig))
        .drop("__prev_key")
    )
    return out


def sequence_by_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str] | None = None
) -> DataFrame:
    """Full latest-flag output shape of the reference A1: every row kept,
    flagged with (is_latest, order_position)."""
    return latest_by_key(df, key_cols, order_cols, keep_order_position=True)
