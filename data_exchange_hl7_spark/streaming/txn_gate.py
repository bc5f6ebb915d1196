"""Transaction-boundary gate: apply only COMMITTED source transactions.

Real binlog/WAL tails are transactional — a producer's transaction spans
many change events, and a consumer that applies a micro-batch cutting
through a transaction exposes readers to a state no source transaction ever
produced (and, if the producer aborts, to phantom rows). Debezium solves
this with transaction metadata (each event carries its transaction id, and
the END marker carries the per-collection event count); this module is that
contract for the engine's epoch apply. Reference analogue: the debatcher's
batch-envelope completeness checks (BHS/BTS segment counts,
SURVEY.md D2/D3) lifted from one HL7 batch file to a WAL transaction
spanning micro-batches.

Semantics
---------
Events carry ``txn_id`` and ``txn_events`` (the declared total event count
of that transaction — Debezium's END-marker count denormalized onto each
event, which is how it lands after a topic flatten). A transaction is
COMMITTED in the visible WAL prefix iff all ``txn_events`` of its events
are present; its **apply lsn** is the max lsn among them (the commit
position). Every event of a committed transaction applies in the epoch
containing the transaction's apply lsn — so no epoch ever lands a partial
transaction, later epochs cannot resurrect one, and an aborted/truncated
transaction (missing events) never applies at all. Events with a NULL
``txn_id`` are autocommit singletons: their apply lsn is their own lsn.

Determinism: the apply lsn is a pure function of the visible WAL, so epoch
slicing on it keeps the runner's exactly-once replay contract — a resumed
or replayed run assigns every event to the same epoch.

Scale shape
-----------
One mergeable count/max aggregation over the WAL builds the transaction
dim (O(#transactions) rows — orders of magnitude smaller than the WAL);
assigning apply lsns is a join co-partitioned on ``txn_id``. Epoch slicing
then filters on the assigned apply lsn. Because ``apply_lsn >= lsn`` by
construction, the one-sided pushdown ``lsn < hi`` always prunes future
input splits; when the producer bounds transaction span
(``max_txn_span``), the two-sided ``lsn >= lo - span`` restores full
range pruning — and the gate VERIFIES the bound against the observed dim
(a violating producer fails loudly instead of silently losing events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# keys under which WAL envelopes carry transaction metadata in the
# supporting_metadata map (the same promotion path as S4 metadata)
TXN_ID_KEY = "txn_id"
TXN_EVENTS_KEY = "txn_events"

APPLY_LSN = "__apply_lsn"


def txn_dim(
    events: DataFrame,
    txn_id_col: str = "txn_id",
    declared_col: str = "txn_events",
    lsn_col: str = "lsn",
) -> DataFrame:
    """Per-transaction completion state from the visible WAL prefix: one
    mergeable hash agg, O(#transactions) output. Columns: ``txn_id``,
    ``n_seen``, ``declared``, ``declared_consistent``, ``first_lsn``,
    ``apply_lsn`` (the commit position — NULL while incomplete),
    ``committed``."""
    return (
        events.filter(F.col(txn_id_col).isNotNull())
        .groupBy(F.col(txn_id_col).alias("txn_id"))
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            # declared count rides every event; take max() = conservative:
            # if a malformed producer's events DISAGREE on the count, the
            # smaller value must never win — committing at the smaller
            # count would land a partial transaction in the batch path
            # while the streaming gate later receives the remainder as a
            # permanently incomplete "transaction", the exact split-apply
            # the gate exists to prevent
            F.max(declared_col).cast("long").alias("declared"),
            F.min(declared_col).cast("long").alias("__declared_min"),
            F.min(lsn_col).cast("long").alias("first_lsn"),
            F.max(lsn_col).cast("long").alias("last_lsn"),
        )
        # a disagreeing producer is malformed: WITHHOLD the transaction
        # entirely (committed=False forever) so it surfaces in held-txn
        # counts/audits instead of half-applying — same policy as the
        # missing-declared-count case below
        .withColumn(
            "declared_consistent",
            F.coalesce(
                F.col("__declared_min") == F.col("declared"), F.lit(True)
            ),
        )
        .drop("__declared_min")
        # coalesce: a transaction whose events carry txn_id but no declared
        # count (malformed producer metadata) must be WITHHELD and counted
        # as held, not leave committed=NULL — a NULL would silently drop it
        # from the batch path while the stream path's ~committed filter
        # would apply it mid-transaction (inconsistent failure modes)
        .withColumn(
            "committed",
            F.coalesce(F.col("n_seen") >= F.col("declared"), F.lit(False))
            & F.col("declared_consistent"),
        )
        .withColumn(
            "apply_lsn",
            F.when(F.col("committed"), F.col("last_lsn")),
        )
    )


def gate_transactions(
    events: DataFrame,
    txn_id_col: str = "txn_id",
    declared_col: str = "txn_events",
    lsn_col: str = "lsn",
    dim: DataFrame | None = None,
    max_txn_span: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Assign every event its transaction-consistent apply position.

    Returns ``(gated, dim)``: ``gated`` is ``events`` restricted to
    committed-transaction events plus autocommit singletons, with
    ``__apply_lsn`` added (slice epochs on it instead of ``lsn``); ``dim``
    is the per-transaction frame (pass it back in on later polls — or
    ``persist()`` it — to avoid recomputing the agg per epoch slice).

    ``max_txn_span``: the producer's declared bound on ``last_lsn -
    first_lsn`` per transaction. Verified against the observed dim —
    raises ``ValueError`` on violation, because a consumer that prunes
    the scan with this bound would silently drop the out-of-bound
    transaction's early events.
    """
    if dim is None:
        dim = txn_dim(events, txn_id_col, declared_col, lsn_col)
    if max_txn_span is not None:
        bad = (
            dim.filter(F.col("last_lsn") - F.col("first_lsn") > max_txn_span)
            .limit(1)
            .take(1)
        )
        if bad:
            r = bad[0]
            raise ValueError(
                f"transaction {r['txn_id']} spans "
                f"{r['last_lsn'] - r['first_lsn']} lsns, beyond the declared "
                f"max_txn_span={max_txn_span}; scan pruning with this bound "
                "would lose its early events"
            )
    e = events.alias("e")
    d = dim.select("txn_id", "apply_lsn").alias("d")
    assigned = e.join(
        d, F.col(f"e.{txn_id_col}") == F.col("d.txn_id"), "left_outer"
    ).drop(F.col("d.txn_id"))
    gated = assigned.withColumn(
        APPLY_LSN,
        F.when(F.col(txn_id_col).isNull(), F.col(lsn_col)).otherwise(
            F.col("apply_lsn")
        ),
    ).drop("apply_lsn")
    # incomplete transactions: apply_lsn is NULL -> hold back (never lands)
    return gated.filter(F.col(APPLY_LSN).isNotNull()), dim


def extract_wal_txn_cols(events: DataFrame) -> DataFrame:
    """Lift transaction metadata out of a WAL envelope's
    ``supporting_metadata`` map into typed columns (``__txn_id``,
    ``__txn_events``) — the S4 metadata-promotion path applied to the
    Debezium transaction envelope. Events without the keys are autocommit
    singletons (NULL txn id)."""
    sm = F.col("supporting_metadata")
    return events.withColumn(
        "__txn_id", sm.getItem(TXN_ID_KEY)
    ).withColumn(
        "__txn_events", sm.getItem(TXN_EVENTS_KEY).cast("long")
    )
