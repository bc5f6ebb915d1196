"""Table-to-table incremental replication by tailing the change feed.

The Iceberg / Delta "streaming read from a table" analogue, and the lake-
native half of the reference's replay fan-out (svc-hl7-replay re-drives a
persisted event window into a downstream consumer; here the persisted
window IS the upstream table's delta layers): a DOWNSTREAM consumer,
independent of the writer process, discovers new upstream snapshots by
polling table metadata, reads the logical change rows with
``changes_between(offset, head)``, and merges them into its own replica
table — no second WAL, no dual-write, the upstream table is the queue.

Offset management IS the downstream epoch ledger: each poll commits its
window under epoch id = the window's END snapshot id, so

- resume   = max committed downstream epoch (no side-channel offset file
  that can diverge from the data it describes),
- exactly-once = ``merge()``'s idempotent epoch skip — a crash after the
  downstream commit but before the caller observes it re-runs the same
  window as a NO-OP,
- replay determinism = the per-window reduction keeps the max-``order_col``
  change per key, the same resolution rule the upstream MoR read applies,
  so any sequence of poll windows converges to the same replica state.

Retention contract (Iceberg's incremental-read rule): every upstream
snapshot in ``(offset, head]`` must still be un-expired; a consumer lagging
past upstream ``expire_snapshots`` raises instead of silently skipping a
window. Size upstream retention to the slowest consumer's lag.

Schema evolution propagates forward on IDENTITY replicas: upstream columns
absent from the replica are added (``add_column``) before the window
merges, so a replica never drops data the upstream schema gained mid-tail.
Transformed replicas own their schema — the transform decides what new
upstream columns mean for the derived rows.

Scale shape: one poll reads only the window's delta files (O(changes), no
snapshot scan), reduces with a single key-hash shuffle, and merges through
the bucket-aligned MoR path — a lagging consumer catches up in
``max_snapshots_per_poll``-bounded epochs at cost proportional to the
backlog, never to table size.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_exchange_hl7_spark.lake.table import LakeTable
from data_exchange_hl7_spark.operators.dedup import latest_by_key


class CdfTailReplicator:
    """Maintain ``replica`` as an incrementally-synced copy of ``upstream``.

    ``transform`` (optional) maps the reduced change frame (one row per key,
    ``__op`` column present) before the merge — a projection/filter for
    partial replicas; it must preserve the key columns, the order column,
    and ``__op``. The replica's epoch-id namespace is owned by this
    replicator (epoch = upstream snapshot id); do not share the replica
    with other writers.
    """

    def __init__(
        self,
        upstream: LakeTable,
        replica: LakeTable,
        transform=None,
        max_snapshots_per_poll: int | None = None,
    ) -> None:
        self.upstream = upstream
        self.replica = replica
        self.transform = transform
        self.max_snapshots_per_poll = max_snapshots_per_poll

    # ------------------------------------------------------------ offsets
    def offset(self) -> int:
        """Upstream snapshot id the replica has fully consumed (durable:
        read from the replica's committed-epoch ledger, never cached)."""
        ledger = self.replica.committed_epochs()
        return max((int(e) for e in ledger), default=0)

    def lag(self) -> int:
        """Snapshots committed upstream but not yet replicated."""
        return self.upstream.current_snapshot()["snapshot_id"] - self.offset()

    # ------------------------------------------------------------ sync
    def _propagate_schema(self, up_snap: dict) -> None:
        have = {f["name"] for f in self.replica.schema_fields()}
        for f in self.upstream.schema_fields(up_snap):
            if f["name"] not in have:
                self.replica.add_column(f["name"], f["type"])

    def poll(self) -> dict:
        """Replicate one window of upstream snapshots; returns a status dict
        ``{applied, from_sid, to_sid, head}``. NO-OP when caught up."""
        head = self.upstream.current_snapshot()["snapshot_id"]
        off = self.offset()
        if head <= off:
            return {"applied": False, "from_sid": off, "to_sid": off, "head": head}
        to_sid = head
        if self.max_snapshots_per_poll:
            to_sid = min(head, off + self.max_snapshots_per_poll)
        up_snap = self.upstream._load_snapshot(to_sid)
        feed = self.upstream.changes_between(off, to_sid)
        keys = up_snap["key_cols"]
        order_col = up_snap["order_col"]
        # One row per key per window, resolved by the SAME rule the upstream
        # MoR read uses: max order_col/LSN first (commit order is irrelevant
        # for an LSN-ordered table — a later commit may carry an older
        # change, which must lose here exactly as it loses upstream), then
        # _commit_snapshot as the tie-break, mirroring upstream's
        # layer-sequence rule that a future merge wins an order_col tie
        # (lake/table.py read resolution).
        changes = (
            latest_by_key(feed, keys, [order_col, "_commit_snapshot"])
            .drop("_commit_snapshot")
            .withColumnRenamed("_change_type", "__op")
        )
        if self.transform is not None:
            changes = self.transform(changes)
        else:
            # identity replicas track upstream schema evolution; a
            # TRANSFORMED replica owns its schema (the transform decides
            # what new upstream columns mean for the derived rows)
            self._propagate_schema(up_snap)
        # A window can PREDATE columns the replica already has (replica
        # created from a later upstream schema, or columns added upstream
        # after this window): rows written before a column existed carry
        # null for it — fill explicitly so the merge's full-schema contract
        # holds for every window. (Upstream renames/widens do NOT propagate
        # as renames — fork the replica from the current upstream schema,
        # or apply them to the replica by hand before the next poll.)
        have = set(changes.columns)
        changes = changes.withColumns(
            {
                f["name"]: F.lit(f.get("initial_default")).cast(f["type"])
                for f in self.replica.schema_fields()
                if f["name"] not in have
            }
        )
        res = self.replica.merge(
            changes,
            epoch=to_sid,
            epoch_info={"kind": "cdf_tail", "from_sid": off, "to_sid": to_sid},
        )
        return {
            "applied": res["applied"],
            "from_sid": off,
            "to_sid": to_sid,
            "head": head,
        }

    def run_until_caught_up(self, max_polls: int = 1_000_000) -> list[dict]:
        """Poll until the replica's offset reaches the upstream head (bounded
        by ``max_polls`` as a runaway guard — raises if the budget runs out
        before catching up, so a caller can never mistake a still-lagging
        replica for a synced one). Returns the poll statuses."""
        out: list[dict] = []
        for _ in range(max_polls):
            st = self.poll()
            out.append(st)
            if st["to_sid"] >= st["head"]:
                return out
        raise RuntimeError(
            f"replica still {out[-1]['head'] - out[-1]['to_sid']} snapshots "
            f"behind after {max_polls} polls (last status: {out[-1]})"
        )


def replicate(
    upstream: LakeTable,
    replica: LakeTable,
    transform=None,
    max_snapshots_per_poll: int | None = None,
) -> list[dict]:
    """One-shot catch-up convenience wrapper."""
    return CdfTailReplicator(
        upstream, replica, transform, max_snapshots_per_poll
    ).run_until_caught_up()
