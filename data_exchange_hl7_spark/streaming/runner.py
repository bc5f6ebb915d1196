"""Micro-batch runner: epoch slicing, checkpoint/resume, replay (M2/M6).

The reference resolves ordering at rest and runs Trigger.Once micro-batches
(spikes/cbs-pipeline/common/fn_lake.scala:49-60); streaming state operators
are deliberately avoided (SURVEY.md section 2.9 watermarks row). We keep that
design: the WAL tail is sliced into LSN-ranged epochs, each applied with
Engine.apply_epoch under an idempotent commit manifest. A killed run resumes
by skipping committed epochs — the manifest lives INSIDE the lake snapshot,
so data+checkpoint commit atomically (exactly-once, SURVEY.md section 7.4
item 1).

Replay (svc-hl7-replay ReplayController.kt:100-139,225-253): re-run from
epoch 0 against a fresh table, optionally filtered, with replay metadata
attached to each epoch manifest entry.

The three recovery primitives, cheapest first:
  1. ``Engine.rollback`` / ``LakeTable.rollback_to`` — O(1) metadata: roll
     a poisoned epoch off and re-apply the corrected batch under the same
     epoch id (lake/table.py rollback_to);
  2. ``Engine.rebuild_derived`` — stage-scoped: rebuild ONE derived table
     from the main table's change feed, no WAL re-scan (engine.py);
  3. ``replay`` here — start-at-ingestion: full WAL re-run, the only path
     when the lake state itself is unrecoverable.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_exchange_hl7_spark.engine import Engine
from data_exchange_hl7_spark.engine import table_name as _tname
from data_exchange_hl7_spark.lake.table import LakeTable


MAX_SCAN_TASKS = 20_000  # upper bound on splits for one WAL scan


def require_consolidate_opts(compact_opts: dict | None, who: str) -> None:
    """Refuse ``compact_opts`` that ``consolidate_deltas`` cannot take (it
    takes ``max_delta_depth`` only) when ``who`` maintains with it, so an
    option is never silently dropped nor fails mid-run, after a batch has
    already applied."""
    dropped = sorted(set(compact_opts or {}) - {"max_delta_depth"})
    if dropped:
        raise ValueError(
            f"{who} maintains with consolidate_deltas, which takes only "
            f"max_delta_depth; got compact_opts {dropped}"
        )


def _maintain_lineage(
    engine: Engine,
    table: LakeTable,
    compact_opts: dict,
    keep_last: int | None,
    keep_tombstones: bool,
) -> dict:
    """One maintenance pass over ``table`` and every table registered on it
    (derived tables accrete delta layers at the same cadence): fold each
    one's delta layers, then expire its snapshots past ``keep_last`` when
    set. Returns the main table's ``compaction`` (and ``expiry``) results.

    ``keep_tombstones`` folds with ``consolidate_deltas``: when a later
    batch can carry an OLDER-lsn event (apply_lsn-sliced gated epochs, a
    file-arrival-ordered stream), ``compact`` folds to the base and drops
    delete tombstones, which would let such an event resurrect a deleted
    key; consolidation keeps them. The main table gets ``compact_opts``
    unfiltered, so an unknown column still raises; sort_cols/zorder_cols
    are main-table layout hints, so a derived table keeps only those its
    schema actually has.
    """

    def fold(t: LakeTable, opts: dict) -> dict:
        if keep_tombstones:
            return t.consolidate_deltas(max_delta_depth=opts.get("max_delta_depth"))
        return t.compact(**opts)

    out = {"compaction": fold(table, compact_opts)}
    if keep_last:
        out["expiry"] = table.expire_snapshots(keep_last)
    for dt, *_ in engine._derived.get(_tname(table), []):
        opts = dict(compact_opts)
        layout_keys = [k for k in ("sort_cols", "zorder_cols") if opts.get(k)]
        if layout_keys:
            have = {f["name"] for f in dt.schema_fields()}
            for k in layout_keys:
                opts[k] = [c for c in opts[k] if c in have] or None
        fold(dt, opts)
        if keep_last:
            dt.expire_snapshots(keep_last)
    return out


_BYTE_SUFFIX = {
    "b": 1, "k": 1024, "kb": 1024, "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3, "t": 1024**4, "tb": 1024**4,
}


def _parse_byte_conf(v: str) -> int:
    """Spark byte confs read back with an optional unit suffix ("134217728b",
    "128m") depending on how the session was configured (builder string vs
    spark-submit default)."""
    s = v.strip().lower()
    for suf in sorted(_BYTE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(s[: -len(suf)]) * _BYTE_SUFFIX[suf]
    return int(s)


def _epoch_split_bytes(events: DataFrame, n_epochs: int, configured: int) -> int | None:
    """Input-split size so ONE epoch's dense bytes fan out across all cores.

    An epoch slice is a pushdown lsn-range filter over the whole WAL scan:
    only ~1/n_epochs of the input splits contain surviving rows, so with the
    default split sizing the narrow stage (clean -> validate -> window map
    side) runs on a fraction of the cores. Lowering
    spark.sql.files.maxPartitionBytes to ~per_epoch_bytes / (2 * cores)
    restores full fan-out. Two guards make this scale-safe: never go below
    total_bytes / MAX_SCAN_TASKS (a 100 TB WAL would otherwise plan millions
    of mostly-empty scan tasks per epoch), and never go ABOVE the configured
    value (on big inputs the guard exceeds the 128 MB default and the
    heuristic disables itself). Returns None when no change is warranted.
    """
    try:
        total = int(
            str(events._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None
    if total <= 0:
        return None
    cores = events.sparkSession.sparkContext.defaultParallelism
    ideal = total // max(n_epochs, 1) // max(2 * cores, 1)
    target = max(ideal, total // MAX_SCAN_TASKS, 4 * 1024 * 1024)
    return target if target < configured else None


class MicroBatchRunner:
    def __init__(
        self,
        engine: Engine,
        epoch_size: int = 100_000,
        compact_every: int | None = None,
        expire_keep_last: int | None = None,
        compact_opts: dict | None = None,
        atomic: bool = False,
        txn_boundaries: bool = False,
        max_txn_span: int | None = None,
    ):
        self.engine = engine
        self.epoch_size = epoch_size
        # atomic=True publishes each epoch's main + derived merges from one
        # multi-table transaction (Engine.apply_epoch atomic semantics)
        self.atomic = atomic
        # txn_boundaries=True: source-transaction-aware slicing (Debezium
        # transaction-metadata semantics, streaming/txn_gate.py) — an event
        # applies in the epoch of its transaction's COMMIT position, so no
        # epoch lands a partial producer transaction and incomplete
        # (aborted/truncated) transactions never land. held_txns after a
        # run reports how many incomplete transactions were withheld.
        self.txn_boundaries = txn_boundaries
        # producer-declared bound on a transaction's lsn span: enables the
        # two-sided scan-pruning filter (lsn >= lo - span) per epoch and is
        # VERIFIED against the observed WAL (txn_gate raises on violation)
        self.max_txn_span = max_txn_span
        self.held_txns: int | None = None
        # maintenance cadence: fold deltas into base every K applied epochs
        # (bounds read amplification at K delta layers; 1 = read-optimized)
        self.compact_every = compact_every
        # when set, expire old snapshots after each compaction (bounds
        # storage: without it a 10^10-event stream accretes a delta layer
        # per epoch forever); keep_last > 1 retains a time-travel window
        self.expire_keep_last = expire_keep_last
        # forwarded to LakeTable.compact (e.g. max_delta_depth for
        # incremental maintenance, sort_cols/files_per_bucket for the
        # sort-ordered layout that tightens stats-based file skipping).
        # Under txn_boundaries maintenance is consolidate_deltas, which
        # takes max_delta_depth only: refuse the rest rather than drop it.
        self.compact_opts = compact_opts or {}
        if txn_boundaries:
            require_consolidate_opts(self.compact_opts, "txn_boundaries=True")

    def run(
        self,
        events: DataFrame,
        table: LakeTable,
        max_epochs: int | None = None,
        fail_after_epoch: int | None = None,
        replay_meta: dict | None = None,
    ) -> list[dict]:
        """Apply the full event stream in lsn-ordered epochs.

        ``fail_after_epoch`` simulates a crash (kill-and-resume test hook).
        The lsn bounds come from one cheap agg; each epoch's slice is a
        pushdown-friendly range filter on the source scan.
        """
        gate_dim = None
        slice_col = "lsn"
        # stale-state reset: held_txns is a per-run report; without this a
        # later run on the same runner (gated or not) would read the
        # previous run's count
        self.held_txns = None
        # unpersist on EVERY exit: the max_txn_span verification inside
        # gate_transactions raises AFTER the dim is materialized, so the
        # persist must already be under this try or each failed run pins a
        # cached frame for the session lifetime
        try:
            if self.txn_boundaries:
                from data_exchange_hl7_spark.streaming.txn_gate import (
                    APPLY_LSN,
                    extract_wal_txn_cols,
                    gate_transactions,
                    txn_dim,
                )

                ev = extract_wal_txn_cols(events)
                # persist the dim only — O(#transactions) rows, never the
                # WAL — so each epoch's slice joins the cached dim instead
                # of re-aggregating the whole tail
                gate_dim = txn_dim(ev, "__txn_id", "__txn_events", "lsn").persist()
                events, _ = gate_transactions(
                    ev,
                    "__txn_id",
                    "__txn_events",
                    "lsn",
                    dim=gate_dim,
                    max_txn_span=self.max_txn_span,
                )
                events = events.drop("__txn_id", "__txn_events")
                slice_col = APPLY_LSN
                self.held_txns = gate_dim.filter(~F.col("committed")).count()
            return self._run_bounded(
                events, table, slice_col, max_epochs, fail_after_epoch,
                replay_meta,
            )
        finally:
            if gate_dim is not None:
                gate_dim.unpersist()

    def _run_bounded(
        self, events, table, slice_col, max_epochs, fail_after_epoch,
        replay_meta,
    ) -> list[dict]:
        bounds = events.agg(F.min(slice_col), F.max(slice_col)).collect()[0]
        if bounds[0] is None:
            return []
        first_epoch = int(bounds[0]) // self.epoch_size
        last_epoch = int(bounds[1]) // self.epoch_size
        stats = []
        # an epoch is resumable-skippable only when EVERY table in the
        # transaction group has committed it: after a crash between the main
        # merge and a derived merge, the epoch must re-enter apply_epoch so
        # the pending derived merges run (the main merge no-ops on its own
        # manifest) — see Engine.derived_table
        committed = set(table.committed_epochs().keys())
        for dt, _fn, kind in self.engine._derived.get(_tname(table), []):
            # a join view namespaces its manifest ids by parent
            # ("repo_files:3"), so the intersection must compare via the
            # SAME key derivation or it is always empty and resume re-enters
            # apply_epoch for every committed epoch (metadata reads per
            # epoch — ruinous on a 10^5-epoch resume)
            done = set(dt.committed_epochs().keys())
            committed = {
                e
                for e in committed
                if str(self.engine._epoch_key(table, kind, int(e))) in done
            }
        spark = self.engine.spark
        conf_key = "spark.sql.files.maxPartitionBytes"
        prev_split = spark.conf.get(conf_key)
        tuned = _epoch_split_bytes(
            events, last_epoch - first_epoch + 1, _parse_byte_conf(prev_split)
        )
        if tuned is not None:
            spark.conf.set(conf_key, str(tuned))
        try:
            return self._run_epochs(
                events, table, first_epoch, last_epoch, committed, stats,
                max_epochs, fail_after_epoch, replay_meta, slice_col,
            )
        finally:
            spark.conf.set(conf_key, prev_split)

    def _run_epochs(
        self, events, table, first_epoch, last_epoch, committed, stats,
        max_epochs, fail_after_epoch, replay_meta, slice_col="lsn",
    ) -> list[dict]:
        n_run = 0
        for epoch in range(first_epoch, last_epoch + 1):
            if str(epoch) in committed:
                stats.append({"epoch": epoch, "applied": False, "resumed_skip": True})
                continue
            lo = epoch * self.epoch_size
            hi = lo + self.epoch_size
            t0 = time.time()
            sl = events.filter(
                (F.col(slice_col) >= lo) & (F.col(slice_col) < hi)
            )
            if slice_col != "lsn":
                # apply_lsn >= lsn always, so `lsn < hi` is a sound pushdown
                # that prunes future input splits below the txn-dim join;
                # a declared span bound restores the lower side too
                sl = sl.filter(F.col("lsn") < hi)
                if self.max_txn_span is not None:
                    sl = sl.filter(F.col("lsn") >= lo - self.max_txn_span)
                sl = sl.drop(slice_col)
            info = self.engine.apply_epoch(
                sl, table, epoch=epoch, start_lsn=lo, end_lsn=hi - 1,
                atomic=self.atomic,
            )
            info["wall_s"] = round(time.time() - t0, 3)
            if replay_meta:
                # replay provenance attached to the manifest entry
                snap = table.current_snapshot()
                entry = snap["properties"]["epochs"].get(str(epoch), {})
                entry["replay"] = replay_meta
                table.set_properties({"epochs": snap["properties"]["epochs"]})
            stats.append(info)
            n_run += 1
            if self.compact_every and n_run % self.compact_every == 0:
                # timed separately so sustained-throughput reports can add it
                # to the epoch wall instead of silently excluding it
                m0 = time.time()
                # gated epochs are apply_lsn-sliced, so a LATER epoch can
                # carry OLDER-lsn events (held transactions): keep the
                # tombstones, for the main and the derived tables alike
                info.update(_maintain_lineage(
                    self.engine, table, self.compact_opts,
                    self.expire_keep_last, keep_tombstones=self.txn_boundaries,
                ))
                info["maintenance_wall_s"] = round(time.time() - m0, 3)
            if fail_after_epoch is not None and epoch >= fail_after_epoch:
                break
            if max_epochs is not None and n_run >= max_epochs:
                break
        return stats


def replay(
    engine: Engine,
    events: DataFrame,
    table_name: str = "repo_files_replay",
    epoch_size: int = 100_000,
    repo: str | None = None,
    path: str | None = None,
    event_ids: list | None = None,
    lsn_range: tuple[int, int] | None = None,
    ts_range: tuple | None = None,
    reason: str = "manual replay",
    starting_process: str = "apply",
    compact_every: int | None = None,
    expire_keep_last: int | None = None,
) -> LakeTable:
    """Deterministic full/selective replay into a fresh table.

    Filter surface mirrors svc-hl7-replay (ReplayController.kt:100-139 entry
    points, 225-253 query builder + metadata): by record id
    (``event_ids`` ~ message_uuid), by source unit (``repo`` ~ file_uuid /
    jurisdiction, ``path``), by date range (``ts_range``), by log range
    (``lsn_range``). Every epoch manifest entry gets the reference's
    ReplayMD shape {replay_timestamp, reason, starting_process, filter}
    (ReplayController.kt:233-253) — the wall-clock timestamp is provenance
    metadata only and never enters a data path, so replayed DATA stays
    byte-deterministic.
    """
    flt = events
    meta: dict = {
        "replay_timestamp": time.time(),
        "reason": reason,
        "starting_process": starting_process,
        "filter": {},
    }
    if repo is not None:
        flt = flt.filter(F.col("repo") == repo)
        meta["filter"]["repo"] = repo
    if path is not None:
        flt = flt.filter(F.col("path") == path)
        meta["filter"]["path"] = path
    if event_ids is not None:
        flt = flt.filter(F.col("event_id").isin(*event_ids))
        meta["filter"]["event_ids"] = list(event_ids)
    if lsn_range is not None:
        flt = flt.filter((F.col("lsn") >= lsn_range[0]) & (F.col("lsn") <= lsn_range[1]))
        meta["filter"]["lsn_range"] = list(lsn_range)
    if ts_range is not None:
        flt = flt.filter((F.col("ts") >= ts_range[0]) & (F.col("ts") <= ts_range[1]))
        meta["filter"]["ts_range"] = [str(t) for t in ts_range]
    table = engine.snapshot_table(table_name)
    # maintenance cadence matters for LARGE replays: without it the replay
    # accretes one delta layer per epoch for the whole run
    MicroBatchRunner(
        engine,
        epoch_size,
        compact_every=compact_every,
        expire_keep_last=expire_keep_last,
    ).run(flt, table, replay_meta=meta)
    return table
