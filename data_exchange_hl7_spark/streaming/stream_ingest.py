"""Structured Streaming ingestion: directory tail -> exactly-once apply (S1/S2).

The reference's production trigger is a blob-created event per file
(fn-receiver-debatcher Function.kt:46-54); its Spark POC uses an autoloader
stream with Trigger.Once (fn_load_hl7.scala:20,37-43, fn_lake.scala:49-60).
OSS equivalent: ``spark.readStream.format("parquet"/"text")`` over a
directory + ``foreachBatch`` into Engine.apply_epoch with
``trigger(availableNow=True)``.

Exactly-once composition: Structured Streaming's checkpoint guarantees each
file is delivered in exactly one micro-batch; the engine's epoch manifest
(keyed by Spark's batch_id) makes the apply idempotent — so a crash between
sink commit and checkpoint write re-runs the batch as a NO-OP instead of
double-applying (the classic foreachBatch at-least-once hole, closed the same
way the reference closes it with Cosmos bulk upsert, K3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_exchange_hl7_spark.engine import Engine
from data_exchange_hl7_spark.lake.table import LakeTable
from data_exchange_hl7_spark.streaming.runner import (
    _maintain_lineage,
    require_consolidate_opts,
)


def stream_apply(
    spark: SparkSession,
    engine: Engine,
    source_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    schema: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    expire_keep_last: int | None = None,
    compact_opts: dict | None = None,
    atomic: bool = False,
    txn_boundaries: bool = False,
):
    """Tail ``source_dir`` for new WAL parquet files and apply each
    micro-batch exactly once. Returns the StreamingQuery.

    ``txn_boundaries=True`` enables the streaming half of the Debezium
    transaction-metadata contract (``streaming/txn_gate.py``): each
    micro-batch is unioned with the WITHHELD remainder of the previous
    batch, transactions complete in the union apply in this batch's epoch,
    and the still-incomplete remainder is persisted to a per-batch pending
    sidecar under the checkpoint dir (``txn_pending/batch=K``) for the next
    batch — so a producer transaction can span any number of file-arrival
    micro-batches and still lands atomically, while a truncated one never
    lands. Exactly-once holds because the pending state is a pure function
    of the delivered-batch prefix: a crash-redelivered batch re-reads its
    predecessor's (immutable) sidecar, recomputes the identical split, the
    apply no-ops on the epoch manifest, and the sidecar overwrite is
    idempotent. Sidecars older than the previous batch are unreferenced
    (Structured Streaming redelivers at most the last uncommitted batch)
    and are removed opportunistically.

    Epoch ids are ``base + batch_id``. The base is fixed at the stream's
    FIRST start as one past the table's highest committed epoch and persisted
    in the checkpoint dir — it must be a constant of the stream identity, not
    recomputed per start, or a re-delivered batch could renumber and break
    exactly-once. For a table created empty the base is 0 (epoch ==
    batch_id, the original contract); for a BRANCH fork the inherited ledger
    is non-empty, and without the offset the stream's batches 0..k would
    collide with the parent's committed epochs 0..k and no-op silently — the
    WAL window would be lost on the audit branch. A pre-existing checkpoint
    without a recorded base keeps base 0 (upgrade compatibility)."""
    # refused here, not at the compact_every-th batch: that batch would
    # already have applied, and every restart would re-deliver it and fail
    require_consolidate_opts(compact_opts, "stream_apply")
    # a table an older version created in copy-on-write mode refuses every
    # merge: refuse it before the checkpoint exists, not in batch 0
    table._require_order_col(table.current_snapshot(), "stream into")
    reader = spark.readStream
    if schema:
        reader = reader.schema(schema)
    else:
        # parquet streams need an explicit schema; infer from existing files
        static = spark.read.parquet(source_dir)
        reader = reader.schema(static.schema)
    if max_files_per_trigger:
        # source rate limit: availableNow drains the backlog in MULTIPLE
        # micro-batches of <= N files each (epoch sizing for a large
        # catch-up, instead of one giant batch)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    import json

    base_path = os.path.join(checkpoint_dir, "epoch_base.json")
    if os.path.exists(base_path):
        with open(base_path) as f:
            epoch_base = json.load(f)["epoch_base"]
    elif os.path.exists(os.path.join(checkpoint_dir, "offsets")):
        epoch_base = 0  # checkpoint predates the base file: epoch == batch_id
    else:
        ledger = table.committed_epochs()
        epoch_base = 1 + max((int(e) for e in ledger), default=-1)
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = f"{base_path}.tmp"
        with open(tmp, "w") as f:
            json.dump({"epoch_base": epoch_base}, f)
        os.replace(tmp, base_path)

    pending_root = os.path.join(checkpoint_dir, "txn_pending")

    def _gate_batch(
        batch_df: DataFrame, batch_id: int
    ) -> tuple[DataFrame, DataFrame]:
        """Union with the previous batch's withheld remainder, split on
        transaction completeness, persist the new remainder. Returns the
        committed-transaction slice to apply."""
        import shutil

        from pyspark.sql import functions as F

        from data_exchange_hl7_spark.streaming.txn_gate import (
            extract_wal_txn_cols,
            txn_dim,
        )

        prev = [
            int(d.split("=", 1)[1])
            for d in (
                os.listdir(pending_root) if os.path.isdir(pending_root) else []
            )
            if d.startswith("batch=") and d.split("=", 1)[1].isdigit()
            # a crashed attempt of THIS batch may have left its own sidecar;
            # the redelivery must read the predecessor's, not its own
            and int(d.split("=", 1)[1]) < batch_id
        ]
        combined = batch_df
        if prev:
            combined = combined.unionByName(
                spark.read.schema(batch_df.schema).parquet(
                    os.path.join(pending_root, f"batch={max(prev)}")
                )
            )
        ev = extract_wal_txn_cols(combined)
        dim = txn_dim(ev, "__txn_id", "__txn_events", "lsn").persist()
        # any failure between persist and return must release the cache —
        # apply_batch's finally only covers dims it actually received
        try:
            open_ids = dim.filter(~F.col("committed")).select("txn_id")
            still_pending = ev.join(
                open_ids,
                ev["__txn_id"] == open_ids["txn_id"],
                "left_semi",
            ).drop("__txn_id", "__txn_events")
            still_pending.write.mode("overwrite").parquet(
                os.path.join(pending_root, f"batch={batch_id}")
            )
            ready = ev.join(
                open_ids,
                ev["__txn_id"] == open_ids["txn_id"],
                "left_anti",
            ).drop("__txn_id", "__txn_events")
            # sidecars older than the predecessor are unreferenced: drop them
            for b in prev:
                if b < max(prev):
                    shutil.rmtree(
                        os.path.join(pending_root, f"batch={b}"),
                        ignore_errors=True,
                    )
        except BaseException:
            dim.unpersist()
            raise
        # the caller unpersists AFTER the apply: `ready` reads through this
        # cache, so releasing it here would force apply_epoch to recompute
        # the full gate aggregation + anti-join per micro-batch
        return ready, dim

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        gate_dim = None
        if txn_boundaries:
            batch_df, gate_dim = _gate_batch(batch_df, batch_id)
        try:
            # atomic=True: each micro-batch's main + derived merges publish
            # from one multi-table transaction (Engine.apply_epoch atomic
            # semantics)
            engine.apply_epoch(
                batch_df, table, epoch=epoch_base + batch_id, atomic=atomic
            )
        finally:
            if gate_dim is not None:
                gate_dim.unpersist()
        # maintenance cadence (MicroBatchRunner.compact_every analogue): a
        # long-lived stream otherwise accretes one delta layer per batch
        # without bound. MUST be consolidate_deltas, not compact: file
        # delivery order is not lsn order, so a later batch can carry an
        # OLDER event — full compaction drops delete tombstones and such an
        # event would resurrect the deleted key (measured, see
        # test_stream_apply_maintenance_cadence); consolidation folds the
        # layers but keeps the tombstones, correct under any arrival order.
        # Keyed on batch_id, so a crash-redelivered batch re-runs the same
        # (state-preserving, idempotent) maintenance.
        if compact_every and (batch_id + 1) % compact_every == 0:
            _maintain_lineage(
                engine, table, compact_opts or {}, expire_keep_last,
                keep_tombstones=True,
            )

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", os.path.join(checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
