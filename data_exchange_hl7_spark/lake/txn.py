"""Atomic multi-table transactions over staged (write-audit-publish) merges.

The lakehouse gap this closes: ``Engine.apply_epoch`` already converges
multi-table epochs by per-table idempotence (crash between the main and a
derived commit re-lands the identical derived rows on resume), but callers
outside the engine's derive registry — a job updating two independent
tables that must move together — had no all-or-nothing primitive. This is
the Iceberg REST-catalog multi-table-commit analogue, built from the
file-level pieces the table already has:

  1. STAGE:   ``merge(..., publish=False)`` on each table writes data files
              and a staged snapshot but does not move ``current``.
  2. DECIDE:  one O_EXCL manifest write (``txn-<id>.json``) is the commit
              point — the transaction is durable the instant it exists.
  3. PUBLISH: each staged snapshot is CAS-published in manifest order.
  4. DONE:    a ``txn-<id>.done`` marker retires the manifest, and the
              done manifests decided before the newest published one are
              deleted with their markers, so ``txn_dir`` stays bounded.

Crash/conflict matrix (tested in tests/test_txn.py):

  - crash before DECIDE: no manifest -> nothing publishes. The staged
    snapshots stay on disk, and their files stay live for every sweep
    (``expire_snapshots`` / ``remove_orphans`` protect pending stages), so
    ``discard_staged`` is the only reclaim. The transaction never happened.
  - crash between DECIDE and DONE: ``recover()`` rolls FORWARD — publishes
    the remaining staged entries (an entry whose staged file is gone but
    whose snapshot landed is detected by its committed manifest and
    skipped: publish is idempotent at the recovery level).
  - concurrent foreign commit on one table between STAGE and PUBLISH: the
    CAS raises ``ConcurrentCommitError``. If no table has published yet the
    transaction aborts cleanly. If some already did, ``recover()``
    COMPENSATES: already-published tables are rolled back to their
    pre-transaction snapshots (``rollback_to`` — one metadata commit each,
    O(1) in table size), remaining stages are discarded, and the manifest
    is marked aborted. Either way: all-or-nothing.

Isolation scope (stated, not hidden): readers racing the PUBLISH phase can
observe table A at its new snapshot while table B is still at its old one
for the duration of step 3 — the primitive guarantees atomic *durability*
(no partial outcome survives), not cross-table snapshot isolation. A
reader wanting a consistent cross-table view pins the per-table snapshot
ids of the last fully-published transaction via
``consistent_snapshot_ids(txn_dir)`` + ``snapshot(as_of=...)`` — the
manifest records them, so the pin is two metadata reads.

Scale shape: steps 2 and 4 are single metadata writes; step 3 is one CAS
rename per table. Nothing here reads or writes data files — the data work
all happened in the (parallel, distributed) STAGE merges.

Reference parity: the reference pipeline's multi-container outputs
(message + segment + json containers per batch,
fns-hl7-pipeline/.../Function.kt sink fan-out) land independently;
this primitive is the strictly stronger contract a lake needs when those
outputs must never diverge.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_exchange_hl7_spark.lake.table import ConcurrentCommitError, LakeTable


class TransactionStateError(RuntimeError):
    """The transaction is not in a state that allows the requested step."""


class MultiTableTransaction:
    """Stage keyed merges on several tables, then publish all atomically.

    Usage::

        txn = MultiTableTransaction(spark, warehouse + "/_txn")
        txn.stage(facts, fact_changes, epoch=7)
        txn.stage(totals, totals_changes, epoch=7)
        txn.commit()          # the O_EXCL manifest write is the atom

    After a crash, ``MultiTableTransaction.recover(spark, txn_dir)`` rolls
    every decided-but-unfinished manifest forward (or compensates, see the
    module docstring) before any new writer proceeds.
    """

    def __init__(self, spark: SparkSession, txn_dir: str):
        self.spark = spark
        self.txn_dir = txn_dir
        os.makedirs(txn_dir, exist_ok=True)
        self.txn_id = uuid.uuid4().hex[:16]
        self._entries: list[dict[str, Any]] = []
        self._state = "open"

    # ------------------------------------------------------------ stage
    def stage(
        self,
        table: LakeTable,
        changes: DataFrame,
        epoch: int | None = None,
        epoch_info: dict | None = None,
        enforce_constraints: bool = True,
    ) -> dict:
        """Run the data work for one table (bucketed write + staged
        snapshot); nothing becomes visible until ``commit``. A table whose
        epoch is already committed (replay after roll-forward) records as a
        no-op entry. ``enforce_constraints`` forwards to ``merge`` (False
        when the caller pre-gated the frame, e.g. the engine's apply)."""
        if self._state != "open":
            raise TransactionStateError(f"transaction is {self._state}")
        pre_sid = table.current_snapshot()["snapshot_id"]
        result = table.merge(
            changes,
            epoch=epoch,
            epoch_info=epoch_info,
            publish=False,
            enforce_constraints=enforce_constraints,
        )
        token = result.get("staged")
        # fingerprint the staged snapshot so recovery can tell OUR published
        # v<sid>.json from a foreign commit that landed at the same sid
        fp = table._load_staged(token)["committed_at"] if token else None
        entry = {
            "location": table.location,
            "pre_sid": pre_sid,
            "epoch": epoch,
            "staged": token,
            "sid": result["snapshot_id"],
            "fingerprint": fp,
            "applied": result.get("applied", True),
        }
        self._entries.append(entry)
        return result

    # ----------------------------------------------------------- decide
    def _manifest_path(self, txn_id: str | None = None) -> str:
        return os.path.join(self.txn_dir, f"txn-{txn_id or self.txn_id}.json")

    def commit(self) -> dict:
        """Decide, then publish every staged entry. Returns a summary with
        the per-table published snapshot ids. Raises ConcurrentCommitError
        if a foreign commit broke a CAS — after compensation, so the
        all-or-nothing contract holds even then."""
        if self._state != "open":
            raise TransactionStateError(f"transaction is {self._state}")
        if not self._entries:
            self._state = "done"
            return {"txn_id": self.txn_id, "published": []}
        manifest = self._decide()
        published = _roll_forward(self.spark, manifest, self.txn_dir)
        self._state = "done"
        return {"txn_id": self.txn_id, "published": published}

    def _decide(self) -> dict:
        """Write the transaction manifest — the commit point. Split from
        ``commit`` so crash-window tests can stop exactly here."""
        manifest = {
            "txn_id": self.txn_id,
            "decided_at": time.time(),
            "entries": self._entries,
        }
        # O_EXCL write = the commit point (same arbiter as the snapshot CAS)
        fd = os.open(self._manifest_path(), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        self._state = "decided"
        return manifest

    def abort(self) -> None:
        """Discard every staged entry (before the decide point only)."""
        if self._state != "open":
            raise TransactionStateError(f"transaction is {self._state}")
        for e in self._entries:
            if e["staged"]:
                t = LakeTable(self.spark, e["location"])
                try:
                    t.discard_staged(e["staged"])
                except ValueError:
                    pass  # already reclaimed
        self._entries.clear()
        self._state = "aborted"

    # --------------------------------------------------------- recovery
    @classmethod
    def recover(cls, spark: SparkSession, txn_dir: str) -> list[dict]:
        """Finish every decided-but-unfinished transaction in ``txn_dir``.
        Idempotent; call before any new writer starts (the engine's
        deployment loop does this once per process)."""
        out = []
        if not os.path.isdir(txn_dir):
            return out
        for fname in sorted(os.listdir(txn_dir)):
            if not (fname.startswith("txn-") and fname.endswith(".json")):
                continue
            txn_id = fname[4:-5]
            if os.path.exists(os.path.join(txn_dir, f"txn-{txn_id}.done")):
                continue
            try:
                with open(os.path.join(txn_dir, fname)) as f:
                    manifest = json.load(f)
            except FileNotFoundError:
                continue  # done, and pruned by a roll-forward of this loop
            try:
                published = _roll_forward(spark, manifest, txn_dir)
            except ConcurrentCommitError:
                out.append({"txn_id": txn_id, "published": [], "aborted": True})
                continue
            out.append({"txn_id": txn_id, "published": published})
        return out


def consistent_snapshot_ids(txn_dir: str) -> dict[str, int]:
    """Cross-table snapshot-isolation helper: the per-table snapshot ids of
    the LATEST fully-published (done, not aborted) transaction — a reader
    that pins each member with ``snapshot(as_of=ids[location])`` observes
    the atomic outcome even while a newer transaction is mid-publish
    (the window the module docstring's isolation caveat describes).
    Tables never written by any done transaction are absent; read those at
    current. Metadata-only: small JSON reads, no Spark jobs."""
    published = [m for _at, _id, status, m in _done(txn_dir) if status != "aborted"]
    if not published:
        return {}
    return {e["location"]: e["sid"] for e in published[-1]["entries"] if e.get("staged")}


def _done(txn_dir: str) -> list[tuple[float, str, str, dict]]:
    """``(decided_at, txn_id, status, manifest)`` of every transaction in
    ``txn_dir`` that carries a ``.done`` marker, oldest first."""
    out = []
    if not os.path.isdir(txn_dir):
        return out
    for fname in os.listdir(txn_dir):
        if not (fname.startswith("txn-") and fname.endswith(".json")):
            continue
        txn_id = fname[4:-5]
        try:
            with open(os.path.join(txn_dir, f"txn-{txn_id}.done")) as f:
                status = f.read().strip()
            with open(os.path.join(txn_dir, fname)) as f:
                manifest = json.load(f)
        except FileNotFoundError:
            continue  # not done yet, or pruned by a concurrent _mark_done
        out.append((manifest["decided_at"], txn_id, status, manifest))
    return sorted(out, key=lambda d: d[:2])


def _mark_done(txn_dir: str, txn_id: str, status: str = "done") -> None:
    """Retire a manifest with its ``.done`` marker, then bound ``txn_dir``:
    delete the done manifests, and then their markers, decided before the
    newest done non-aborted one (the one ``consistent_snapshot_ids``
    reads). A manifest without a marker is never deleted — ``recover``
    still has to finish it — so the manifest goes first: a crash between
    the two deletes leaves only a marker, which ``recover`` ignores."""
    path = os.path.join(txn_dir, f"txn-{txn_id}.done")
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(status)
    except FileExistsError:
        pass
    done = _done(txn_dir)
    published = [at for at, _id, st, _m in done if st != "aborted"]
    for at, old_id, _st, _m in done:
        if published and at < published[-1]:
            for ext in ("json", "done"):
                try:
                    os.remove(os.path.join(txn_dir, f"txn-{old_id}.{ext}"))
                except FileNotFoundError:
                    pass


def _entry_published(t: LakeTable, e: dict) -> bool:
    """True when the entry's OWN snapshot is already committed on the table:
    snapshot ``sid`` exists AND carries the staged snapshot's fingerprint —
    bare existence is not enough (a foreign commit can land at the same
    sid, and the staged file being gone alone is ambiguous: discard removes
    it too)."""
    try:
        committed = t._load_snapshot(e["sid"])
    except (ValueError, OSError):  # not committed, or unreadable
        return False
    return committed.get("committed_at") == e.get("fingerprint")


def _roll_forward(spark: SparkSession, manifest: dict, txn_dir: str) -> list[dict]:
    """Publish every entry of a decided transaction; compensate on CAS
    conflict. Returns the per-table outcome list."""
    txn_id = manifest["txn_id"]
    entries = [e for e in manifest["entries"] if e["staged"]]
    outcomes: list[dict] = []
    done_so_far: list[dict] = []
    for e in entries:
        t = LakeTable(spark, e["location"])
        if _entry_published(t, e):
            outcomes.append({"location": e["location"], "snapshot_id": e["sid"]})
            done_so_far.append(e)
            continue
        try:
            r = t.publish_staged(e["staged"])
            outcomes.append(
                {"location": e["location"], "snapshot_id": r["snapshot_id"]}
            )
            done_so_far.append(e)
        except ConcurrentCommitError:
            # compensate: roll published tables back to their pre-txn
            # snapshots (metadata-only), discard the rest, mark aborted
            # (assumes the deployment contract stated in the module doc:
            # one writer per table — a foreign commit that landed on an
            # ALREADY-published member after our publish would be rolled
            # off with it)
            for d in done_so_far:
                LakeTable(spark, d["location"]).rollback_to(d["pre_sid"])
            for rest in entries:
                if rest in done_so_far:
                    continue
                try:
                    LakeTable(spark, rest["location"]).discard_staged(rest["staged"])
                except ValueError:
                    pass
            _mark_done(txn_dir, txn_id, status="aborted")
            raise
    _mark_done(txn_dir, txn_id)
    return outcomes
