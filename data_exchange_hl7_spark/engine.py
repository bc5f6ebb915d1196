"""Engine: the CDC apply pipeline (SURVEY.md section 7.5 public API).

One micro-batch (epoch) flows:

    slice by lsn range                 (S1/S3 source scan, pushdown filter)
 -> clean content                      (D1/D5 normalization)
 -> validate + branch                  (V1-V3 verdicts, K2 router)
 -> apply schema events                (mergeSchema analogue -> lake DDL)
 -> RENAME -> delete+upsert rewrite    (debatch-style explode, narrow)
 -> latest-per-key window dedup        (A1)
 -> lake MERGE w/ epoch manifest       (K3 bulk upsert, exactly-once)
 -> metrics + lineage append           (A3/A4/K5 report tables)

Everything before the window is narrow (no shuffle); the window + MERGE
bucket-rewrite are the only wide stages, both keyed on (repo, path).
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_exchange_hl7_spark.lake.table import _WIDEN_OK, LakeTable, _spark_type
from data_exchange_hl7_spark.operators import dedup as dedup_ops
from data_exchange_hl7_spark.operators import validate as validate_ops
from data_exchange_hl7_spark.operators.normalize import clean_content

SNAPSHOT_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
    ("content_sha256", "string"),
    ("size_bytes", "int"),
    ("last_lsn", "bigint"),
    ("last_ts", "timestamp"),
]
# the snapshot columns the apply fills from the event envelope
_ENVELOPE_COLS = {name for name, _ in SNAPSHOT_SCHEMA}
KEY_COLS = ["repo", "path"]
SCHEMA_OPS = ("SCHEMA_ADD", "SCHEMA_RENAME", "SCHEMA_WIDEN")

# Built-in derived-table spec (Engine.derived_table): per-file metrics kept
# transactionally in step with the snapshot — the engine-maintained analogue
# of the reference's second silver output (json-lake / segments containers
# written per batch alongside the primary table).
FILE_STATS_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("lang", "string"),
    ("n_lines", "int"),
    ("n_tokens", "int"),
    ("content_sha256", "string"),
    ("last_lsn", "bigint"),
]


def file_stats_derive(changes: DataFrame) -> DataFrame:
    """Map an epoch's deduped change frame to file_stats rows (pure
    projection — D tombstones pass through; their metric columns are
    ignored by the keyed merge)."""
    body = F.coalesce(F.col("content"), F.lit(""))
    return changes.select(
        "repo",
        "path",
        "lang",
        F.size(F.split(body, "\n")).cast("int").alias("n_lines"),
        F.size(F.filter(F.split(body, " "), lambda t: F.length(t) > 0))
        .cast("int")
        .alias("n_tokens"),
        "content_sha256",
        "last_lsn",
        "__op",
    )


# Built-in near-dup signature index (Engine.derived_table): per-key MinHash
# band signatures maintained INCREMENTALLY with the snapshot. At 10^10 events
# this is the difference between dedup as a per-epoch O(changes) projection
# and re-sketching the whole corpus every time someone asks for duplicates:
# only keys touched by an epoch are ever re-signed, deletes tombstone their
# signature, and the LSH band-bucket join runs over this index instead of
# the raw content table (no text ever re-shuffles).
MINHASH_INDEX_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("mh0", "string"),
    ("mh1", "string"),
    ("mh2", "string"),
    ("mh3", "string"),
    ("last_lsn", "bigint"),
]


def minhash_index_derive(changes: DataFrame) -> DataFrame:
    """Per-key MinHash band signatures (4 bands, md5(shingle||':'||band),
    the same family as queries_text.minhash_signatures) as a PURE PROJECTION
    over the epoch's change frame: the 3-word shingle set and each band's
    minimum are array expressions evaluated per row — no explode, no
    shuffle, no second WAL pass. Documents with fewer than 3 tokens sign as
    NULL (nothing to shingle); D tombstones pass through.

    The token array and the shingle array each get their own projection:
    a lambda evaluates the expressions it references once per element, so
    inlined, the content was re-split for every shingle and re-shingled for
    every band (9 s vs 1.1 s for 4000 events, 4-vCPU VM)."""
    keep = ["repo", "path", "last_lsn", "__op"]
    body = F.coalesce(F.col("content"), F.lit(""))
    toks = changes.select(
        *keep, F.filter(F.split(body, " "), lambda t: F.length(t) > 0).alias("__toks")
    )
    n = F.size("__toks")
    sh = toks.select(
        *keep,
        F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(1), n - 2),
                lambda i: F.array_join(F.slice(F.col("__toks"), i, 3), " "),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__sh"),
    )
    bands = [
        F.array_min(
            F.transform("__sh", lambda s: F.md5(F.concat(s, F.lit(f":{b}"))))
        ).alias(f"mh{b}")
        for b in range(4)
    ]
    return sh.select("repo", "path", *bands, "last_lsn", "__op")


# Built-in aggregate-view spec (Engine.aggregate_table): per-repo rollup
# maintained incrementally — the receiver-file-report A4 semantics kept as a
# live materialized view instead of a per-batch report.
REPO_STATS_SCHEMA = [
    ("repo", "string"),
    ("n_files", "bigint"),
    ("total_bytes", "bigint"),
]


def repo_stats_delta(changes: DataFrame, old_rows: DataFrame) -> DataFrame:
    """Per-repo (file count, byte count) deltas from one epoch's change
    frame. ``old_rows`` carries the pre-epoch state of exactly the changed
    keys: an update contributes new-old bytes and 0 files, an insert +1/new
    bytes, a delete -1/-old bytes, a no-op 0/0."""
    sz = F.coalesce(F.col("size_bytes").cast("bigint"), F.lit(0))
    new = changes.select(
        "repo",
        "path",
        F.when(F.col("__op") == "U", F.lit(1)).otherwise(F.lit(0)).alias("n_new"),
        F.when(F.col("__op") == "U", sz).otherwise(F.lit(0)).alias("b_new"),
    )
    oldp = old_rows.select(
        "repo", "path", F.lit(1).alias("n_old"), sz.alias("b_old")
    )
    j = new.join(oldp, ["repo", "path"], "left").fillna(0, ["n_old", "b_old"])
    return (
        j.groupBy("repo")
        .agg(
            F.sum(F.col("n_new") - F.col("n_old")).cast("bigint").alias("n_files"),
            F.sum(F.col("b_new") - F.col("b_old")).cast("bigint").alias("total_bytes"),
        )
        .withColumn("__op", F.lit("U"))
    )


# Built-in SCD Type-2 history spec (Engine.scd2_table): full version history
# of the main table maintained incrementally at epoch cadence, O(changes)
# rows per epoch. In-order changes close the previous version and (for
# upserts) open the new one; LATE changes — a file-order stream can deliver
# an older lsn after a newer one — are recorded directly as CLOSED versions
# so the open set always mirrors the main table's last-wins merge exactly,
# even under out-of-order arrival (see scd2_history_rows for the full
# classification). Deletes close without opening, so a deleted key has no
# current version — the same contract as operators/temporal.scd2, which is
# the batch oracle this recurrence is certified against
# (queries.scd2_history_read). purge_where/redact_where sweep a key's WHOLE
# version history (see _purge_or_redact), not just its current version.
SCD2_IMAGE_COLS = ["commit", "lang", "content_sha256", "size_bytes"]
SCD2_HISTORY_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("valid_from_lsn", "bigint"),
    ("commit", "string"),
    ("lang", "string"),
    ("content_sha256", "string"),
    ("size_bytes", "int"),
    ("valid_to_lsn", "bigint"),
    ("is_current", "boolean"),
    ("last_lsn", "bigint"),
]


def scd2_history_rows(changes: DataFrame, old_rows: DataFrame) -> DataFrame:
    """One epoch's SCD2 maintenance rows from (change frame, TOMBSTONE-VISIBLE
    pre-epoch state of the changed keys — ``snapshot(with_tombstones=True)``,
    so ``old_rows.__op`` distinguishes live state ('U'), deleted state ('D'
    with the tombstone's lsn), and never-seen (absent)).

    Classification per changed key (c = the change, o = the pre-state
    winner):

    - o absent            : upsert opens a new current version; a delete of
                            an absent key emits nothing.
    - o live, c.lsn > o   : in-order — close o's version at c.lsn; an upsert
                            also opens the new version.
    - o live, c.lsn < o   : LATE upsert — the event is already history:
                            record it CLOSED on [c.lsn, o.lsn) and leave the
                            current version untouched (mirrors the main
                            table's last-wins merge, where the late event
                            loses). A late delete emits nothing (its closing
                            point is not recoverable from pre-state alone).
    - o tombstone (lsn t) : c.lsn > t reopens the key (nothing to close);
                            c.lsn < t is a late upsert into the deleted
                            period, recorded CLOSED on [c.lsn, t).

    Exactness contract: intervals are exact under per-key lsn-monotone
    arrival (the same contract as ``compact()``'s tombstone drop). Under
    out-of-order feeds (file-order streams — use the ``consolidate_deltas``
    cadence so tombstones stay visible) every version row and the
    one-open-version-per-live-key invariant remain exact; only the
    ``valid_to_lsn`` of a late version is an upper bound when MORE THAN ONE
    later version already exists (the retro-split of an already-closed
    interval would need a history read, not just pre-state).

    Closing rows re-write the previous version's history-key (repo, path,
    valid_from_lsn = o.lsn) with the interval end; both row kinds carry the
    driving change's lsn as ``last_lsn`` so MoR last-wins resolution prefers
    the newest form of an interval row.

    Scale shape: ONE equi-join of the epoch's changes against the
    O(changes) pre-state (both bucket-aligned by the main key), narrow
    filters — never a scan of the history table itself.
    """
    key = KEY_COLS
    c = changes.select(
        *key,
        F.col("last_lsn").alias("__c_lsn"),
        F.col("__op").alias("__c_op"),
        *SCD2_IMAGE_COLS,
    )
    o = old_rows.select(
        *key,
        F.col("last_lsn").alias("__o_lsn"),
        F.col("__op").alias("__o_op"),
        *[F.col(col).alias(f"__o_{col}") for col in SCD2_IMAGE_COLS],
    )
    j = c.join(o, key, "left")
    o_live = F.col("__o_op") == "U"
    in_order = F.col("__o_lsn").isNull() | (F.col("__c_lsn") > F.col("__o_lsn"))

    # close the live previous version when an in-order change supersedes it
    closing = j.filter(o_live & in_order).select(
        *key,
        F.col("__o_lsn").alias("valid_from_lsn"),
        *[F.col(f"__o_{col}").alias(col) for col in SCD2_IMAGE_COLS],
        F.col("__c_lsn").alias("valid_to_lsn"),
        F.lit(False).alias("is_current"),
        F.col("__c_lsn").alias("last_lsn"),
    )
    # open a new current version for every in-order upsert
    opening = j.filter((F.col("__c_op") == "U") & in_order).select(
        *key,
        F.col("__c_lsn").alias("valid_from_lsn"),
        *SCD2_IMAGE_COLS,
        F.lit(None).cast("bigint").alias("valid_to_lsn"),
        F.lit(True).alias("is_current"),
        F.col("__c_lsn").alias("last_lsn"),
    )
    # a LATE upsert is already history: closed on [c.lsn, winner.lsn)
    late = j.filter(
        (F.col("__c_op") == "U") & F.col("__o_lsn").isNotNull() & ~in_order
    ).select(
        *key,
        F.col("__c_lsn").alias("valid_from_lsn"),
        *SCD2_IMAGE_COLS,
        F.col("__o_lsn").alias("valid_to_lsn"),
        F.lit(False).alias("is_current"),
        F.col("__c_lsn").alias("last_lsn"),
    )
    return (
        closing.unionByName(opening)
        .unionByName(late)
        .withColumn("__op", F.lit("U"))
    )


# registration kinds whose derive fn takes (changes, pre-epoch old_rows)
# instead of (changes,) — dispatched in Engine._fan_out
_PRE_STATE_KINDS = ("aggregate", "history")

# a dim epoch's changed-key set becomes an in-list file-skipping predicate on
# the fact read only while it stays metadata-sized (driver-collected)
_JOIN_INLIST_LIMIT = 256


class Engine:
    """Facade over the lake + operators (reference stage map in __init__.py)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        n_buckets: int = 64,
        mode: str = "mor",
    ):
        """Every table is merge-on-read (``mode`` accepts only "mor"); fold
        the deltas with ``MicroBatchRunner(compact_every=K)``, where ``K=1``
        keeps the tables read-optimized."""
        if mode != "mor":
            raise ValueError(f"mode={mode!r}: every table is merge-on-read")
        self.spark = spark
        self.warehouse = warehouse
        self.n_buckets = n_buckets
        # main-table name -> [(derived LakeTable, derive fn, kind)] where
        # kind is "derived" or "aggregate" — see derived_table / _register
        self._derived: dict[str, list[tuple[LakeTable, Any, str]]] = {}
        # join-view name -> spec (join_table); feeds refresh_join/rollback
        self._joins: dict[str, dict[str, Any]] = {}
        os.makedirs(warehouse, exist_ok=True)

    # ------------------------------------------------------------ tables
    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def snapshot_table(self, name: str = "repo_files") -> LakeTable:
        loc = self.table_path(name)
        if LakeTable.exists(loc):
            return LakeTable(self.spark, loc)
        return LakeTable.create(
            self.spark,
            loc,
            SNAPSHOT_SCHEMA,
            KEY_COLS,
            n_buckets=self.n_buckets,
            order_col="last_lsn",
        )

    # ----------------------------------------------------- schema events
    def _apply_schema_events(self, table: LakeTable, schema_rows: list) -> int:
        """Apply SCHEMA_* events in lsn order (metadata-only DDL).

        Engine bookkeeping lives in table properties under "schema_meta":
        {final_field_name: {"add_lsn": L, "src": original_metadata_key}} so
        later epochs can populate the column from supporting_metadata for
        rows with lsn > add_lsn (see datagen.replay_oracle contract).
        """
        if not schema_rows:
            return 0
        snap = table.current_snapshot()
        meta: dict[str, Any] = dict(snap["properties"].get("schema_meta", {}))
        applied = 0
        for r in sorted(schema_rows, key=lambda r: r["lsn"]):
            fld = r["schema_field"]
            if fld is None:
                continue
            if r["op"] == "SCHEMA_ADD":
                # skip if present under this name or renamed away (oracle rule)
                if fld in meta or any(m.get("src") == fld for m in meta.values()):
                    continue
                table.add_column(fld, "string")
                meta[fld] = {"add_lsn": r["lsn"], "src": fld}
                applied += 1
            elif r["op"] == "SCHEMA_RENAME":
                new = fld + "_renamed"
                if fld not in meta or new in meta:
                    continue
                table.rename_column(fld, new)
                meta[new] = {"add_lsn": meta[fld]["add_lsn"], "src": meta[fld]["src"]}
                del meta[fld]
                applied += 1
            elif r["op"] == "SCHEMA_WIDEN":
                # generator currently widens size_bytes int -> bigint
                cur = {f["name"]: f["type"] for f in table.schema_fields()}
                if cur.get("size_bytes") == "int":
                    table.widen_column("size_bytes", "bigint")
                    applied += 1
        if applied:
            table.set_properties({"schema_meta": meta})
        return applied

    # ------------------------------------------------- derived tables
    def derived_table(
        self,
        name: str,
        schema: list[tuple[str, str]],
        derive,
        main: str = "repo_files",
        key_cols: list[str] | None = None,
        n_buckets: int | None = None,
    ) -> LakeTable:
        """Register a DERIVED lake table maintained transactionally with the
        main table's epochs — the reference's multi-output silver stage
        (fn-hl7-json-lake + lake-of-segments write SEPARATE containers per
        message batch; spikes/cbs-pipeline silver writes obx + segments
        tables from one pass).

        ``derive(changes) -> DataFrame`` maps the epoch's deduped per-key
        change frame (every current-schema column + ``__op``) to the derived
        table's columns, preserving key columns and ``__op`` — one derived
        row per main key (deletes pass through as ``D`` tombstones).

        Every writer of ``main`` (apply_epoch, apply_dim_epoch, merge_into,
        purge/redact, publish, rebuild_derived) maintains it through the one
        ``_fan_out`` path. Exactly-once ACROSS tables: each table carries its
        own epoch manifest. If the process dies between the main commit and
        a derived commit, re-running the epoch recomputes the
        (deterministic) change frame, the main merge no-ops on its manifest,
        and only the missing derived merges apply (tested:
        test_derived_table_resumes_after_partial_commit). The derive runs
        against the epoch's persisted change frame: one projection + one
        O(changes) merge per derived table, never a second WAL pass.
        """
        loc = self.table_path(name)
        if LakeTable.exists(loc):
            t = LakeTable(self.spark, loc)
        else:
            t = LakeTable.create(
                self.spark,
                loc,
                schema,
                key_cols or KEY_COLS,
                n_buckets=n_buckets or self.n_buckets,
                order_col="last_lsn",
            )
        self._register(main, t, derive, "derived")
        return t

    def _register(self, main: str, t: LakeTable, fn, kind: str) -> None:
        regs = self._derived.setdefault(main, [])
        # re-registration (idempotent setup code / engine restart) replaces
        # the fn rather than double-merging the same table per epoch
        regs[:] = [r for r in regs if r[0].location != t.location]
        regs.append((t, fn, kind))
        self._persist_registration(main, t, kind)

    def _registry_path(self, main: str) -> str:
        return os.path.join(self.warehouse, "_registry", f"{main}.json")

    def _registry_update(self, main: str, mutate) -> None:
        """Read-modify-write of the registry JSON under an O_EXCL lock file
        (the same cross-process arbitration the table commit uses): two
        processes registering different deriveds concurrently must not
        last-writer-wins each other's entry out of the compliance gate."""
        import json as _json
        import time as _time

        path = self._registry_path(main)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        lock = f"{path}.lock"
        deadline = _time.time() + 30
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                if _time.time() > deadline:
                    raise RuntimeError(f"registry lock {lock} held too long")
                _time.sleep(0.02)
        try:
            entries: dict[str, dict] = {}
            if os.path.exists(path):
                with open(path) as f:
                    entries = _json.load(f)
            mutate(entries)
            tmp = f"{path}.tmp"
            with open(tmp, "w") as f:
                _json.dump(entries, f, indent=1, sort_keys=True)
            os.replace(tmp, path)
        finally:
            os.unlink(lock)

    def _persist_registration(self, main: str, t: LakeTable, kind: str) -> None:
        """Durable record that ``main`` HAS derived consumers (name + kind
        only — the derive fn is code and lives in the registering process).
        A compliance purge/redact from a process that has NOT re-registered
        them consults this file and fails loud instead of silently sweeping
        the main table alone (see ``_purge_or_redact``)."""
        self._registry_update(
            main, lambda e: e.__setitem__(table_name(t), {"kind": kind})
        )

    def registered_derived(self, main: str = "repo_files") -> dict[str, dict]:
        """Every derived table ever registered for ``main`` in THIS
        warehouse (durable across processes), name -> {kind}."""
        import json as _json

        path = self._registry_path(main)
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return _json.load(f)

    def deregister_derived(self, main: str, name: str) -> None:
        """Remove a derived table from BOTH the in-process registrations and
        the durable registry — the escape hatch after a derived table is
        decommissioned (deleted from disk); without it one stale entry
        would force main_only purges forever."""
        self._derived[main] = [
            r for r in self._derived.get(main, []) if table_name(r[0]) != name
        ]
        self._registry_update(main, lambda e: e.pop(name, None))

    def aggregate_table(
        self,
        name: str,
        schema: list[tuple[str, str]],
        delta_fn,
        main: str = "repo_files",
        key_cols: list[str] | None = None,
        n_buckets: int | None = None,
    ) -> LakeTable:
        """Register an incrementally-maintained AGGREGATE materialized view —
        a resolve='sum' lake table whose per-epoch merge rows are DELTAS
        computed from the epoch's change frame and the PRE-epoch state of the
        changed keys (classic incremental view maintenance, kept exactly-once
        by the same per-table epoch manifests as derived_table).

        ``delta_fn(changes, old_rows) -> DataFrame``: ``changes`` is the
        epoch's deduped per-key change frame (current-schema columns +
        ``__op``); ``old_rows`` is the main table's PRE-merge state restricted
        to the changed keys (bucket-pruned read + semi join — O(changes), not
        O(table)). It must return one row per aggregate key with numeric
        delta columns and ``__op`` = 'U' (an aggregate retract is a negative
        delta, never a tombstone).

        Reads resolve by summing delta layers per key (LakeTable
        resolve='sum'); compaction folds partial sums, so write cost stays
        O(deltas) per epoch with no read-modify-write — the plan shape that
        survives 10^10 events.

        Crash between the main commit and the aggregate commit: on resume the
        pre-epoch state is recovered by time travel to the epoch's commit
        parent (snapshot ids are dense), so the recomputed deltas are
        byte-identical and the late merge converges — requires the parent
        snapshot to still be within the expire_snapshots retention window
        (same contract as Iceberg incremental reads).
        """
        loc = self.table_path(name)
        if LakeTable.exists(loc):
            t = LakeTable(self.spark, loc)
        else:
            t = LakeTable.create(
                self.spark,
                loc,
                schema,
                key_cols or ["repo"],
                # aggregate keys are orders of magnitude fewer than file keys
                # (one row per repo, not per file): a narrow bucket layout
                # keeps the per-epoch delta merge from paying a wide shuffle
                # + n_buckets tiny files for a handful of rows
                n_buckets=n_buckets or min(self.n_buckets, 8),
                resolve="sum",
            )
        self._register(main, t, delta_fn, "aggregate")
        return t

    def scd2_table(
        self,
        name: str = "scd2_history",
        main: str = "repo_files",
        n_buckets: int | None = None,
    ) -> LakeTable:
        """Register an incrementally-maintained SCD Type-2 HISTORY table: the
        full version history of ``main`` (one row per version with
        ``[valid_from_lsn, valid_to_lsn)`` and ``is_current``), kept in step
        with every epoch by the same per-table manifests as derived_table —
        exactly-once, crash-resumable, rebuildable from the CDF.

        Per epoch the maintenance is O(changes): the previous version of
        each changed key gets a CLOSING update (its history-key is
        (repo, path, old last_lsn), recovered from the pre-epoch state the
        engine already computes for aggregate views) and each upsert adds an
        OPENING row; unchanged keys are never touched. Granularity is epoch
        cadence: multiple changes to one key inside a single epoch fold to
        one version (the per-key deduped change frame), the same contract as
        the main table itself.
        """
        loc = self.table_path(name)
        if LakeTable.exists(loc):
            t = LakeTable(self.spark, loc)
        else:
            t = LakeTable.create(
                self.spark,
                loc,
                SCD2_HISTORY_SCHEMA,
                [*KEY_COLS, "valid_from_lsn"],
                n_buckets=n_buckets or self.n_buckets,
                order_col="last_lsn",
            )
        self._register(main, t, scd2_history_rows, "history")
        return t

    # ------------------------------------------------- join views (IVM)
    def _epoch_key(self, parent, kind: str, epoch) -> int | str:
        """Manifest epoch id for one derived merge. A join view has TWO
        parents (fact and dim), each with its own epoch counter, so its
        manifest namespaces the id by parent table name; single-parent
        kinds keep the raw id (backward-compatible with existing tables)."""
        if not kind.startswith("join_"):
            return epoch
        name = parent if isinstance(parent, str) else table_name(parent)
        return f"{name}:{epoch}"

    def join_table(
        self,
        name: str,
        dim: LakeTable,
        on: list[str],
        main_cols: list[str],
        dim_cols: list[str],
        main: str = "repo_files",
        n_buckets: int | None = None,
        broadcast_dim: bool = True,
    ) -> LakeTable:
        """Register an incrementally-maintained JOIN materialized view —
        ``V = main ⋈ dim on `on```` (inner), kept in step with BOTH parents'
        change feeds (classic delta-join IVM, the Materialize/Flink-SQL
        capability; reference analogue: the vocab/profile lookup enrichment
        the gold pipeline re-joins on every batch,
        runHL7GoldPipelineFull.scala:115-156 — here the joined product is
        maintained as a table instead of recomputed per query).

        Maintenance is O(changes) on either side, never a recompute:

        * a MAIN epoch joins the epoch's deduped change frame against the
          dim's current state (broadcast when ``broadcast_dim``) — upserts
          for matches, tombstones for fact deletes;
        * a DIM epoch (``apply_dim_epoch``) re-derives exactly the fact rows
          of the changed ``on`` keys — a key-subset read pushed below the
          main table's MoR resolve (``keys_in``), plus manifest-level
          ``in``-list file skipping while the changed-key set is
          metadata-sized — then upserts them against the new dim values, or
          tombstones them for dim deletes (no resurrection: a later fact
          update of a dim-less key inner-joins to nothing).

        Exactly-once with TWO epoch counters: the view's per-table manifest
        namespaces ids by parent (``repo_files:3`` vs ``repo_meta:3``), so a
        crash between any pair of commits converges on re-run, exactly like
        derived_table — provided each parent's epochs are driven in order
        (the MicroBatchRunner contract: re-drive the crashed epoch before
        advancing, which every single-driver runner in this repo does).

        Convergence: the view is MoR ordered by the fact ``last_lsn`` with
        layer sequence as tiebreaker, so a dim refresh (same fact lsn, later
        layer) supersedes the stale joined row, and a later fact change
        supersedes both. ``on`` must be a subset of the main table's key
        columns (the keyed-read fast path; arbitrary-column joins would need
        an index the lake doesn't have). Rollback of either parent cannot
        use the single-parent ledger-subset walk (the view's ledger mixes
        two counters) — ``Engine.rollback`` detects join views and runs
        ``refresh_join`` instead (full diff-merge, the disaster-recovery
        path). ``rebuild_derived`` works from either parent's change feed
        and converges to the same final state (each side's fn reads the
        other side's CURRENT state, which is the fixpoint).
        """
        main_t = LakeTable(self.spark, self.table_path(main))
        mkeys = main_t.current_snapshot()["key_cols"]
        if not set(on) <= set(mkeys):
            raise ValueError(f"join `on` {on} must be a subset of the main key {mkeys}")
        mtypes = {f["name"]: f["type"] for f in main_t.schema_fields()}
        dtypes = {f["name"]: f["type"] for f in dim.schema_fields()}
        if "last_lsn" not in mtypes:
            raise ValueError("join views need the main table's last_lsn order column")
        # union (|), not `or`: the `or` form reported only the FIRST
        # non-empty overlap and never checked main_cols against dim_cols at
        # all — that overlap registered fine and died epochs later with an
        # ambiguous-column AnalysisException inside the first view refresh
        bad = (
            (set(main_cols) & (set(mkeys) | {"last_lsn"}))
            | (set(dim_cols) & set(on))
            | (set(main_cols) & set(dim_cols))
        )
        if bad:
            raise ValueError(f"duplicated columns in the view schema: {sorted(bad)}")
        schema = (
            [(k, mtypes[k]) for k in mkeys]
            + [(c, mtypes[c]) for c in main_cols]
            + [(c, dtypes[c]) for c in dim_cols]
            + [("last_lsn", mtypes["last_lsn"])]
        )
        view_names = [c for c, _t in schema]
        null_cols = [
            F.lit(None).cast(t).alias(c)
            for c, t in schema
            if c not in mkeys and c != "last_lsn"
        ]
        loc = self.table_path(name)
        if LakeTable.exists(loc):
            t = LakeTable(self.spark, loc)
        else:
            t = LakeTable.create(
                self.spark,
                loc,
                schema,
                mkeys,
                n_buckets=n_buckets or self.n_buckets,
                order_col="last_lsn",
            )

        def _main_fn(changes: DataFrame) -> DataFrame:
            dimdf = dim.snapshot().select(*on, *dim_cols)
            if broadcast_dim:
                dimdf = F.broadcast(dimdf)
            ups = (
                changes.filter(F.col("__op") == "U")
                .select(*mkeys, *main_cols, "last_lsn")
                .join(dimdf, on, "inner")
                .select(*view_names)
                .withColumn("__op", F.lit("U"))
            )
            dels = (
                changes.filter(F.col("__op") == "D")
                .select(*mkeys, *null_cols, "last_lsn")
                .withColumn("__op", F.lit("D"))
            )
            return ups.unionByName(dels)

        def _dim_fn(dchanges: DataFrame) -> DataFrame:
            changed = dchanges.select(*on).distinct()
            where = None
            if len(on) == 1:
                # in-list manifest pruning only while the changed-key set is
                # metadata-sized (bounded collect via limit)
                vals = [
                    r[0] for r in changed.limit(_JOIN_INLIST_LIMIT + 1).collect()
                ]
                if len(vals) <= _JOIN_INLIST_LIMIT:
                    where = [(on[0], "in", vals)]
            facts = (
                LakeTable(self.spark, self.table_path(main))
                .snapshot(keys_in=changed, where=where)
                .select(*mkeys, *main_cols, "last_lsn")
            )
            u_dims = dchanges.filter(F.col("__op") == "U").select(*on, *dim_cols)
            d_keys = dchanges.filter(F.col("__op") == "D").select(*on)
            if broadcast_dim:
                u_dims, d_keys = F.broadcast(u_dims), F.broadcast(d_keys)
            ups = (
                facts.join(u_dims, on, "inner")
                .select(*view_names)
                .withColumn("__op", F.lit("U"))
            )
            dels = (
                facts.join(d_keys, on, "left_semi")
                .select(*mkeys, *null_cols, "last_lsn")
                .withColumn("__op", F.lit("D"))
            )
            return ups.unionByName(dels)

        self._register(main, t, _main_fn, "join_main")
        self._register(table_name(dim), t, _dim_fn, "join_dim")
        self._joins[name] = {
            "view": t,
            "dim": dim,
            "main": main,
            "on": list(on),
            "mkeys": list(mkeys),
            "main_cols": list(main_cols),
            "dim_cols": list(dim_cols),
            "view_names": view_names,
            "null_cols": null_cols,
            "broadcast_dim": broadcast_dim,
        }
        return t

    def apply_dim_epoch(
        self,
        dim: LakeTable,
        changes: DataFrame,
        epoch: int,
        epoch_info: dict | None = None,
    ) -> dict:
        """Apply one epoch of keyed changes to a DIMENSION table, exactly
        once, and maintain every table registered on it (join views and any
        derived table) in the same epoch — the dim-side counterpart of
        ``apply_epoch``, through the same gate and ``_apply_lineage`` path:
        a row the dim's CHECK constraints quarantine never reaches a view.

        ``changes`` follows the ``LakeTable.merge`` contract (at most one
        row per key, ``__op`` in U/D, every current-schema column for
        upserts) and must be a deterministic function of the dim's WAL
        slice so a crash between the dim commit and a view commit re-lands
        identical rows on resume."""
        pending = self._pending(dim, epoch)
        if str(epoch) in dim.committed_epochs() and not pending:
            return {"epoch": epoch, "applied": False}
        snap = dim.current_snapshot()
        changes, handle, n_quarantined = self._gate(dim, changes, snap, epoch)
        try:
            return self._apply_lineage(
                dim, changes, epoch, epoch_info, pending, False, snap, n_quarantined
            )
        finally:
            handle.unpersist()

    def refresh_join(self, name: str) -> dict:
        """Reset-and-rebuild one join view to exactly ``main ⋈ dim`` at the
        parents' CURRENT states — the recovery path after a parent rollback
        (a join view's ledger mixes two parents' epoch counters, so the
        metadata-only ledger-subset restore of single-parent deriveds does
        not apply).

        A delta-layer diff-merge cannot express a parent rollback: the view
        resolves by fact ``last_lsn``, and a rollback moves lsn BACKWARD, so
        a refreshed (lower-lsn) image could never supersede the stale
        higher-lsn row. Instead the view is rolled back to its empty create
        snapshot (metadata-only, history stays linear and time travel keeps
        the old states) and the batch join lands as ONE clean merge. The
        view's epoch ledger resets with it; re-driven parent epochs then
        re-apply on the view and converge (each frame joins the other
        parent's current state — last layer wins ties at equal lsn).

        O(main ⋈ dim) read+write — the honest cost of disaster recovery.
        The manifest epoch id derives from both parents' snapshot ids, so
        re-running after a crash (or calling it twice) no-ops."""
        spec = self._joins[name]
        view, dim, on = spec["view"], spec["dim"], spec["on"]
        mkeys, view_names = spec["mkeys"], spec["view_names"]
        main_t = LakeTable(self.spark, self.table_path(spec["main"]))
        epoch = "refresh:{}:{}".format(
            main_t.current_snapshot()["snapshot_id"],
            dim.current_snapshot()["snapshot_id"],
        )
        if str(epoch) in view.committed_epochs():
            return {"epoch": epoch, "applied": False}
        dimdf = dim.snapshot().select(*on, *spec["dim_cols"])
        if spec["broadcast_dim"]:
            dimdf = F.broadcast(dimdf)
        ideal = (
            main_t.snapshot()
            .select(*mkeys, *spec["main_cols"], "last_lsn")
            .join(dimdf, on, "inner")
            .select(*view_names)
            .withColumn("__op", F.lit("U"))
        )
        if view.current_snapshot()["snapshot_id"] > 0:
            view.rollback_to(0)
        info = {"op": "refresh_join", "epoch_key": epoch}
        result = view.merge(ideal, epoch=epoch, epoch_info=info)
        return {"epoch": epoch, **result}

    def _epoch_commits(self, table: LakeTable) -> list[tuple[int, int, int]]:
        """(epoch, committing snapshot id, parent id) for every LIVE epoch,
        in epoch order — the walk behind stage-scoped replay and aggregate
        resume.

        Rollback-aware: a rollback commit restores the target's epoch
        ledger, so epochs NOT in the restored ledger were rolled off — their
        original committing snapshots are dead history and the same epoch id
        may recommit later with DIFFERENT content (the corrected batch).
        Without the reset, the oldest-first walk would credit a recommitted
        epoch to its poisoned first commit and replay the bad changes."""
        seen: set[str] = set()
        commits: dict[str, tuple[int, int, int]] = {}
        for h in reversed(table.history()):  # oldest -> newest
            if h["operation"] == "rollback":
                restored = set(h["epochs"])
                seen &= restored
                commits = {e: v for e, v in commits.items() if e in restored}
                continue
            for e in set(h["epochs"]) - seen:
                commits[e] = (int(e), h["snapshot_id"], h["parent"])
            seen |= set(h["epochs"])
        return sorted(commits.values())

    def _pre_epoch_sid(self, table: LakeTable, epoch: int, merge_result: dict) -> int:
        """Snapshot id of the main table's state just BEFORE ``epoch``'s
        commit. Fresh commit: dense ids make it snapshot_id - 1. Resume
        (merge no-oped): locate the epoch's LIVE committing snapshot via the
        rollback-aware walk (a rolled-off-and-recommitted epoch must resolve
        to the corrected commit, never the poisoned one)."""
        if merge_result.get("applied"):
            return merge_result["snapshot_id"] - 1
        committing = {e: (sid, parent) for e, sid, parent in self._epoch_commits(table)}
        if int(epoch) not in committing:
            raise ValueError(
                f"cannot locate the committing snapshot for epoch {epoch} "
                "(expired past the retention window?)"
            )
        sid, parent = committing[int(epoch)]
        # confirm this snapshot INTRODUCED the epoch: epoch ids are inherited
        # by every later snapshot, so if the true committing snapshot has
        # been expired the walk would otherwise return a later parent and
        # silently compute deltas off the wrong pre-state
        parent_epochs = table.committed_epochs(
            table._load_snapshot(parent)  # raises if expired
        )
        if str(epoch) in parent_epochs:
            raise ValueError(
                f"pre-epoch state for {epoch} has been expired; aggregate "
                "resume needs the epoch's commit parent within the retention "
                "window (raise expire_keep_last)"
            )
        return parent

    def rebuild_derived(
        self,
        main: LakeTable,
        name: str,
        target_name: str | None = None,
        reason: str = "stage-scoped replay",
    ) -> LakeTable:
        """Stage-scoped replay re-entry: rebuild ONE registered derived
        table or aggregate view without re-merging the base and without
        re-scanning the WAL — the reference's replay-from-a-NAMED-starting-
        process (svc-hl7-replay ReplayController.kt:100-139, where a replay
        can start at any pipeline stage instead of ingestion; the repo's
        ``streaming.runner.replay`` is the start-at-ingestion form).

        Delta layers ARE the persisted per-epoch change frames, so for
        each committed epoch (commit order) the exact frame ``apply_epoch``
        fed the derive fn is recovered from the main table's change data
        feed — ``changes_between(parent, committing_sid)`` projected to that
        epoch's own schema version — then mapped by the registered fn and
        merged into a fresh target under the same per-epoch manifests.
        Rebuilds are therefore resumable (re-run skips committed epochs) and
        byte-identical to the original derived table (tested by row-set
        equality after multi-epoch runs that include schema evolution).

        Aggregate views re-derive their deltas against the main table's
        PRE-epoch state (time travel to the committing snapshot's parent
        with the changed-key semi join pushed below the MoR resolve) — the
        same recovery path ``apply_epoch`` uses on resume. An SCD2 history
        table replays the whole-history sweep of each purge/redact epoch
        from the predicate and ``set_exprs`` in the main table's ledger, as
        ``purge_where`` / ``redact_where`` applied it.

        Requires every epoch's committing snapshot inside the retention
        window (the Iceberg incremental-read contract); expired epochs raise
        rather than silently skipping.

        Scale shape: per epoch this reads O(that epoch's changes) from the
        delta layers plus, for aggregates, O(changed keys) of pre-state —
        never a full-table or full-WAL pass; total work is proportional to
        the change history, on par with the original derive stage alone.
        """
        regs = self._derived.get(table_name(main), [])
        match = [(t, fn, kind) for t, fn, kind in regs if table_name(t) == name]
        if not match:
            raise ValueError(
                f"no derived table {name!r} registered on {table_name(main)!r}"
            )
        src, fn, kind = match[0]
        ssnap = src.current_snapshot()
        loc = self.table_path(target_name or f"{name}_rebuilt")
        if LakeTable.exists(loc):
            tgt = LakeTable(self.spark, loc)
        else:
            tgt = LakeTable.create(
                self.spark,
                loc,
                [(f["name"], f["type"]) for f in src.schema_fields()],
                ssnap["key_cols"],
                n_buckets=ssnap["n_buckets"],
                order_col=ssnap["order_col"],
                resolve=ssnap["resolve"],
            )
        # the rebuilt copy holds the SAME content-derived rows as the
        # original — record it in the durable registry so a purge that
        # cannot reach it REFUSES instead of letting it silently escape
        # every future compliance sweep
        self._persist_registration(table_name(main), tgt, kind)
        epoch_commits = self._epoch_commits(main)
        ledger = main.committed_epochs()
        missing = set(ledger) - {str(e) for e, _sid, _parent in epoch_commits}
        if missing:
            raise ValueError(
                f"epochs {sorted(missing)} predate the retention window; "
                "stage replay needs their committing snapshots (raise "
                "expire_keep_last or replay from the WAL instead)"
            )
        import time as _time

        meta = {
            "replay_timestamp": _time.time(),
            "reason": reason,
            "starting_process": f"derive:{name}",
        }
        done = set(tgt.committed_epochs())
        key_cols = main.current_snapshot()["key_cols"]
        # commit order, not epoch-id order: a purge/redact sweep touches
        # exactly the versions committed before it
        pending_commits = [
            c
            for c in sorted(epoch_commits, key=lambda c: (c[1], c[0]))
            if str(self._epoch_key(main, kind, c[0])) not in done
        ]
        for e, src_t, c_parent, c_sid in self._epoch_change_bounds(
            main, pending_commits
        ):
            changes = (
                src_t.changes_between(c_parent, c_sid)
                .withColumnRenamed("_change_type", "__op")
                .drop("_commit_snapshot")
            )
            info = ledger[str(e)]
            if kind == "history" and info.get("op") in ("purge", "redact"):
                # replay the whole-history sweep, not the one-row-per-key feed
                set_exprs = info.get("set_exprs")
                if info["op"] == "redact" and not set_exprs:
                    raise ValueError(f"redact epoch {e} has no set_exprs in its ledger")
                sweep = self._history_sweep(tgt, changes, info["predicate"], set_exprs)
                tgt.merge(sweep, epoch=e, epoch_info={"replay": meta})
                continue
            self._fan_out(
                main,
                [(tgt, fn, kind)],
                changes,
                e,
                {"replay": meta},
                lambda: src_t.snapshot(
                    as_of=c_parent,
                    keys_in=changes.select(*key_cols),
                    with_tombstones=True,
                ),
            )
        return tgt

    def _epoch_change_bounds(
        self, src: LakeTable, commits: list[tuple[int, int, int]]
    ) -> list[tuple[int, LakeTable, int, int]]:
        """(epoch, source table, from_sid, to_sid) for recovering each
        epoch's EXACT change frame from ``src``'s history, in the order of
        ``commits``.

        Fast-forward-aware: epochs folded into one fast_forward commit share
        a single combined delta on ``src``; feeding that once per epoch
        would double-count sum-resolved aggregates, so such epochs are
        re-resolved against the published branch's own per-epoch commits.
        Guards: a branch path that no longer resolves the epoch (dropped,
        expired, or a foreign table recreated at the path) raises the
        curated keep-your-branches error rather than failing deep in a scan
        — unless the commit carried exactly one epoch, where ``src``'s own
        delta IS that epoch's frame."""
        from collections import Counter

        per_commit = Counter(sid for _e, sid, _p in commits)
        cache: dict[str, tuple[LakeTable, dict[int, tuple[int, int]]]] = {}
        out: list[tuple[int, LakeTable, int, int]] = []
        for e, sid, parent in commits:
            src_t, c_sid, c_parent = src, sid, parent
            smeta = src._load_snapshot(sid)
            if smeta.get("operation") == "fast_forward":
                ff = smeta["fast_forward_of"]
                if ff["branch"] not in cache and LakeTable.exists(ff["branch"]):
                    bt = LakeTable(self.spark, ff["branch"])
                    cache[ff["branch"]] = (
                        bt,
                        {be: (bs, bp) for be, bs, bp in self._epoch_commits(bt)},
                    )
                hit = cache.get(ff["branch"])
                if hit and int(e) in hit[1]:
                    src_t = hit[0]
                    c_sid, c_parent = hit[1][int(e)]
                elif per_commit[sid] > 1:
                    raise ValueError(
                        f"epoch {e} rode a multi-epoch fast_forward commit and "
                        f"its branch {ff['branch']!r} no longer resolves it; "
                        "per-epoch recovery is impossible — keep published "
                        "branches until downstream consumers caught up, or "
                        "replay from the WAL instead"
                    )
            out.append((e, src_t, c_parent, c_sid))
        return out

    def rollback(self, table: LakeTable, ref: int | str) -> dict:
        """Lineage-wide bad-epoch recovery: roll the MAIN table back to
        ``ref`` (snapshot id or tag) AND every registered derived table /
        aggregate view back to its own snapshot matching the restored epoch
        ledger — the cascade a bare ``LakeTable.rollback_to`` cannot give
        once deriveds exist (their rows from the rolled-off epochs would
        silently survive, exactly the gap ``purge_where`` closes for
        deletes).

        Matching rule: derived tables commit under the SAME epoch ids as the
        main (per-table epoch manifests, applied in the same monotone
        order), so for each derived the newest snapshot whose ledger is a
        SUBSET of the restored main ledger is precisely the state as of the
        target — found by a metadata-only newest-first history walk, then
        restored with the same linear metadata-only ``rollback_to`` commit.

        Idempotent/resumable: a crash between the main rollback and a
        derived rollback re-converges on re-run — the main side no-ops
        (ledger already a subset match at current) and only the missing
        derived rollbacks execute. Raises if a derived's matching snapshot
        has been expired; rebuild it from the main's change feed with
        ``rebuild_derived`` instead (stage-scoped replay).
        """
        target = table._load_snapshot(table._resolve_ref(ref))
        target_epochs = set(target["properties"]["epochs"])
        out: dict[str, dict] = {}
        cur = table.current_snapshot()
        if cur["snapshot_id"] == target["snapshot_id"] or (
            # resume after a crash mid-cascade: the main rollback to THIS
            # target already committed — don't stack another one
            cur.get("operation") == "rollback"
            and cur.get("rollback_of") == target["snapshot_id"]
        ):
            out[table_name(table)] = {
                "rolled_back": False,
                "snapshot_id": cur["snapshot_id"],
            }
        else:
            out[table_name(table)] = table.rollback_to(target["snapshot_id"])
        for dt, _fn, _kind in self._derived.get(table_name(table), []):
            if _kind.startswith("join_"):
                # a join view's ledger mixes TWO parents' epoch counters, so
                # no single retained snapshot corresponds to "this parent
                # rolled back, the other one current" — recover by full-diff
                # refresh against the (just rolled back) parent states
                jname = table_name(dt)
                if jname not in self._joins:
                    raise ValueError(
                        f"join view {jname!r} needs refresh_join after a "
                        "parent rollback, but its spec is not registered in "
                        "this engine — call join_table first"
                    )
                out[jname] = self.refresh_join(jname)
                continue
            cand = None
            for h in dt.history():  # newest first
                if set(h["epochs"]) <= target_epochs:
                    cand = h["snapshot_id"]
                    break
            if cand is None:
                raise ValueError(
                    f"derived table {table_name(dt)!r} has no retained "
                    f"snapshot matching the restored ledger (expired); "
                    "rebuild it with rebuild_derived instead"
                )
            if cand == dt.current_snapshot()["snapshot_id"]:
                out[table_name(dt)] = {"rolled_back": False, "snapshot_id": cand}
            else:
                out[table_name(dt)] = dt.rollback_to(cand)
        return out

    # ------------------------------------------------- lineage fan-out
    def _pending(self, parent, epoch) -> list[tuple[LakeTable, Any, str]]:
        """Registrations on ``parent`` (table or name) whose manifest does
        not hold ``epoch`` yet — on a resume after a partial multi-table
        commit, exactly the derived merges the crashed run still owed."""
        name = parent if isinstance(parent, str) else table_name(parent)
        return [
            (t, fn, kind)
            for t, fn, kind in self._derived.get(name, [])
            if str(self._epoch_key(name, kind, epoch)) not in t.committed_epochs()
        ]

    def _require_registered(self, name: str, verb: str) -> None:
        """The durable registry knows every derived table EVER registered
        for ``name``; if some aren't re-registered in this process, the
        cascade cannot reach them (their derive fns are code) — fail loud
        rather than ship a write that misses signature rows."""
        live = {table_name(t) for t, _, _ in self._derived.get(name, [])}
        missing = sorted(set(self.registered_derived(name)) - live)
        if missing:
            raise RuntimeError(
                f"{verb} on '{name}' would MISS derived tables "
                f"registered in this warehouse but not in this process: "
                f"{missing}. Re-register them (derived_table / "
                f"aggregate_table / scd2_table / join_table) first, or pass "
                f"main_only=True to write the main table alone on purpose."
            )

    def _gate(
        self, table: LakeTable, changes: DataFrame, snap: dict, epoch
    ) -> tuple[DataFrame, DataFrame, int | None]:
        """CHECK constraints gate HERE, before the fan-out: the main merge,
        every derived table, and every aggregate view must see the SAME
        gated change rows (gating inside merge alone would leak quarantined
        rows into deriveds — the purge-cascade consistency class).

        Returns (changes, persisted handle, n_quarantined — None when the
        table has no constraints); the caller unpersists the handle."""
        cons = snap["properties"].get("check_constraints") or {}
        if not cons:
            changes = changes.persist()  # feeds merge write, lineage, deriveds
            return changes, changes, None
        # the gate's tagged frame IS the epoch cache (full slice,
        # content-heavy); persisting the filtered view again would
        # materialize a duplicate copy — the filter re-reads the cache
        changes, n_quarantined, handle = table._enforce_check_constraints(
            changes, cons, snap, epoch
        )
        return changes, handle, n_quarantined

    def _fan_out(
        self, parent, pending, changes, epoch, info, pre_state, txn=None
    ) -> list[str]:
        """Maintain every ``pending`` registration of ``parent`` from one
        epoch's change frame — the one place derive fns run and derived
        merges land (or stage into ``txn``), each keyed by ``_epoch_key``.
        Returns the maintained tables' names.

        ``pre_state()`` returns the pre-epoch state of the changed keys,
        tombstone-visible: the history kind must distinguish deleted from
        never-seen; aggregates get the live-rows view of the SAME read. It
        is called only when a pending kind reads it, and not persisted, so
        each scan column-prunes (an aggregate's delta never reads content)."""
        changes = changes.drop("__bucket")
        old_all = old_live = None
        if any(kind in _PRE_STATE_KINDS for _, _, kind in pending):
            old_all = pre_state()
            old_live = old_all.filter(F.col("__op") == "U").drop("__op")
        for dt, fn, kind in pending:
            if kind == "history":
                dchanges = fn(changes, old_all)
            elif kind in _PRE_STATE_KINDS:
                dchanges = fn(changes, old_live)
            else:
                dchanges = fn(changes)
            key = self._epoch_key(parent, kind, epoch)
            if txn is not None:
                txn.stage(dt, dchanges, epoch=key, epoch_info=info)
            else:
                dt.merge(dchanges, epoch=key, epoch_info=info)
        return [table_name(dt) for dt, *_ in pending]

    def _apply_lineage(
        self, table, changes, epoch, info, pending, atomic, snap, n_quarantined
    ) -> dict:
        """Main merge (or txn stage), then the fan-out, then the txn commit,
        for a frame ``_gate`` already gated. Derived tables use the same
        epoch id, own manifest per table: on a resume after a partial
        multi-table commit the main merge no-ops and only the still-missing
        derived merges run — the change frame is a deterministic function
        of the epoch's input, so the late merges land the identical rows."""
        # the frame is pre-gated: merge() must not enforce the constraints again
        if atomic:
            from data_exchange_hl7_spark.lake.txn import MultiTableTransaction

            txn_dir = os.path.join(self.warehouse, "_txn")
            MultiTableTransaction.recover(self.spark, txn_dir)
            txn = MultiTableTransaction(self.spark, txn_dir)
            result = txn.stage(
                table, changes, epoch=epoch, epoch_info=info, enforce_constraints=False
            )
        else:
            txn = None
            result = table.merge(
                changes, epoch=epoch, epoch_info=info, enforce_constraints=False
            )
        stats = {"epoch": epoch, **result}

        def pre_state() -> DataFrame:
            # pre-epoch state of the changed keys only: bucket-pruned
            # time-travel read + semi join — O(changes) work, not O(table).
            # atomic fresh stage: the main merge is staged, not committed,
            # so the walk-based resolver cannot see it — the pre-epoch state
            # is simply the pre-stage current snapshot
            if txn is not None and result.get("staged"):
                pre_sid = result["snapshot_id"] - 1
            else:
                pre_sid = self._pre_epoch_sid(table, epoch, result)
            col = "__bucket" if "__bucket" in changes.columns else table.bucket_expr()
            # bounded by n_buckets — metadata-sized
            chg_buckets = [r[0] for r in changes.select(col).distinct().collect()]
            # bucket pruning is a hard file filter: only sound while the
            # pre-epoch snapshot shares the current bucket count (a
            # rebucket between commit and resume would misalign it)
            if table._load_snapshot(pre_sid)["n_buckets"] != snap["n_buckets"]:
                chg_buckets = None
            # keys_in pushes the changed-key semi join BELOW the MoR
            # resolve window, so the pre-state read does O(changed keys)
            # window work, not O(keys in touched buckets)
            return table.snapshot(
                as_of=pre_sid,
                buckets=chg_buckets,
                keys_in=changes.select(*snap["key_cols"]),
                with_tombstones=True,
            )

        applied = self._fan_out(table, pending, changes, epoch, info, pre_state, txn)
        if txn is not None:
            txn_out = txn.commit()
            if stats.pop("staged", None):
                stats["applied"] = True  # published by the txn commit
            stats["txn_id"] = txn_out["txn_id"]
        if self._derived.get(table_name(table)):
            stats["derived_applied"] = applied
        if n_quarantined is not None:
            stats["quarantined"] = n_quarantined
        return stats

    # ------------------------------------------------------------- apply
    def apply_epoch(
        self,
        events: DataFrame,
        table: LakeTable,
        epoch: int,
        start_lsn: int | None = None,
        end_lsn: int | None = None,
        collect_metrics: bool = True,
        atomic: bool = False,
    ) -> dict:
        """Apply one epoch's change events to the snapshot table, exactly once.

        ``atomic=True`` publishes the main merge and EVERY derived/aggregate
        merge from one multi-table transaction (lake/txn.py): all data work
        is staged (WAP), one manifest write is the commit point, and a crash
        at any step leaves either the complete epoch or no trace — readers
        can never observe the main table ahead of its deriveds. The default
        (False) keeps the per-table-idempotence contract: a crash between
        the main and a derived commit is visible until the resumed run
        converges it. Schema-DDL events remain separate linear commits in
        both modes (Delta parity), and metrics/lineage/reject sidecars are
        per-epoch-overwrite idempotent, not transactional. The atomic path
        first rolls forward any decided-but-unfinished transaction in the
        warehouse (single-writer deployment contract) — without that, a
        re-staged epoch and the pending transaction would collide at the
        same snapshot id."""
        derived_pending = self._pending(table, epoch)
        if str(epoch) in table.committed_epochs() and not derived_pending:
            return {"epoch": epoch, "applied": False}

        # persist the validated slice: it feeds the reject write, the schema
        # collect, and the merge — one shared computation per epoch (scoped:
        # unpersisted before return)
        # cache only the scalar verdicts (status + counts): the entry arrays
        # are consumed solely by the reject sink (~1% of rows), and keeping
        # array-of-struct columns in the every-row cache measurably inflates
        # apply wall (caching the nested report struct alone cost ~2x); the
        # reject branch reconstructs its entries from the cached base columns
        ev = (
            validate_ops.validate(clean_content(events))
            .drop("report", "report_entries")
            .persist()
        )
        # keep the PERSISTED handle: ev is rebound below (observe wraps the
        # plan in a CollectMetrics node, which no longer sameResult-matches
        # the cached subtree), so unpersisting the rebound frame would leak
        # one full cached epoch slice per apply — fatal over 10^5 epochs
        ev_cached = ev

        # metrics ride along as an Observation: collected during the reject
        # write's pass over ev — zero extra jobs (replaces a separate agg)
        obs = None
        if collect_metrics:
            from pyspark.sql import Observation

            obs = Observation(f"epoch_{epoch}")
            ev = ev.observe(
                obs,
                F.count(F.lit(1)).alias("events_in"),
                F.sum(
                    (F.col("status") == validate_ops.STRUCTURE_ERRORS).cast("long")
                ).alias("rejected"),
                F.sum(F.col("op").isin(*SCHEMA_OPS).cast("long")).alias("schema_changes"),
            )
        accepted, rejected = validate_ops.branch(ev)

        # rejected branch -> queryable reject table (K2/K4); per-epoch dir
        # overwrite keeps the write idempotent under re-runs. The FULL event
        # envelope rides along (a dead-letter queue is useless without the
        # payload — reprocess_rejects re-drives these after a fix); rejects
        # are ~1% of rows, so the duplicated content bytes stay negligible.
        # rebalance, NOT coalesce: this job is the one that materializes
        # the persisted validate output, and coalesce(8) would collapse that
        # whole upstream build to 8 tasks (measured 9s -> 34s per 1M-event
        # epoch); the exchange only moves the ~1% rejected rows. AQE sizes
        # it from those rows, so a small epoch writes its rejects in one
        # task.
        if collect_metrics:
            rejected.withColumn(
                "report_entries", validate_ops.report_entries_expr()
            ).drop("error_count", "warning_count").hint("rebalance").write.mode(
                "overwrite"
            ).parquet(
                os.path.join(self.warehouse, "_rejects", table_name(table), f"epoch={epoch}")
            )

        # schema events: rare, metadata-sized -> driver applies DDL in order.
        # The reject write has already filled the Observation, so an epoch it
        # counts no schema event in skips the collect job.
        schema_rows = []
        if obs is None or obs.get["schema_changes"]:
            schema_rows = [
                r.asDict()
                for r in accepted.filter(F.col("op").isin(*SCHEMA_OPS))
                .select("lsn", "op", "schema_field")
                .collect()
            ]
        self._apply_schema_events(table, schema_rows)

        data = accepted.filter(~F.col("op").isin(*SCHEMA_OPS))

        # RENAME -> (DELETE old path, UPSERT new path) pair, then per-key
        # latest-lsn window resolves arbitrary interleavings (A1 semantics)
        renames = data.filter(F.col("op") == "RENAME")
        # self-rename (new_path == path) must not emit a tombstone: the delete
        # and upsert halves would tie on (lsn, ts) for the same key
        rename_deletes = (
            renames.filter(F.col("new_path") != F.col("path"))
            .withColumn("op", F.lit("DELETE"))
            .withColumn("content", F.lit(None).cast("string"))
        )
        rename_upserts = renames.withColumn("path", F.col("new_path")).withColumn(
            "op", F.lit("UPDATE")
        )
        flat = (
            data.filter(F.col("op") != "RENAME")
            .unionByName(rename_deletes)
            .unionByName(rename_upserts)
        )

        # single-shuffle dedup, pre-partitioned on the storage bucket so the
        # MERGE write below is shuffle-free (bucket = f(key), so one hash
        # exchange serves both the per-key window and the bucketed layout).
        # The dedup key is (repo, path): a hot REPO spreads over its many
        # paths, so per-key skew stays mild.
        order_cols = ["lsn", "ts", "event_id"]
        # the table's CURRENT bucket count (may differ from the engine's
        # creation-time default after a rebucket) keeps the dedup exchange
        # aligned with the storage layout
        snap = table.current_snapshot()
        flat = flat.withColumn("__bucket", table.bucket_expr())
        latest = dedup_ops.latest_by_key_bucketed(flat, KEY_COLS, order_cols)

        # populate evolved extra columns from supporting_metadata
        schema_meta = snap["properties"].get("schema_meta", {})
        extra_cols = []
        for fld, m in schema_meta.items():
            extra_cols.append(
                F.when(
                    F.col("lsn") > m["add_lsn"],
                    F.try_element_at(F.col("supporting_metadata"), F.lit(m["src"])),
                ).alias(fld)
            )
        # a current-schema column with neither an envelope nor a schema_meta
        # source (one added through LakeTable.add_column) reads NULL in the
        # new rows: the merge selects every current-schema column
        fields = table.schema_fields(snap)
        extra_cols += [
            F.lit(None).cast(_spark_type(f["type"])).alias(f["name"])
            for f in fields
            if f["name"] not in _ENVELOPE_COLS and f["name"] not in schema_meta
        ]

        cleaned = F.coalesce(F.col("content"), F.lit(""))
        changes = latest.select(
            F.col("__bucket"),
            F.col("repo"),
            F.col("path"),
            F.col("commit"),
            F.col("lang"),
            F.col("content"),
            F.sha2(cleaned, 256).alias("content_sha256"),
            F.length(cleaned).cast(
                dict((f["name"], f["type"]) for f in fields).get("size_bytes", "int")
            ).alias("size_bytes"),
            F.col("lsn").alias("last_lsn"),
            F.col("ts").alias("last_ts"),
            *extra_cols,
            F.when(F.col("op") == "DELETE", F.lit("D")).otherwise(F.lit("U")).alias("__op"),
        )

        info = {"start_lsn": start_lsn, "end_lsn": end_lsn}
        changes, changes_handle, n_quarantined = self._gate(table, changes, snap, epoch)
        try:
            stats = self._apply_lineage(
                table, changes, epoch, info, derived_pending, atomic, snap, n_quarantined
            )
            if collect_metrics:
                stats.update(self._write_metrics(table, obs, changes, epoch))
        finally:
            ev_cached.unpersist()
            changes_handle.unpersist()
        return stats

    def _write_metrics(self, table, obs, changes: DataFrame, epoch: int) -> dict:
        """Metrics + per-partition lineage tables (A3/A4/K5 semantics).

        Metrics come from the Observation collected during the reject write
        (no extra job); partition_id is the deterministic storage bucket (not
        spark_partition_id, which varies with parallelism).
        """
        name = table_name(table)
        got = obs.get
        metrics = {
            "events_in": got["events_in"] or 0,
            "rejected": got["rejected"] or 0,
            "schema_changes": got["schema_changes"] or 0,
        }
        # the per-bucket lineage agg scans the changes cache (one Spark job);
        # its RESULT is metadata-sized (<= n_buckets rows), so both report
        # tables are then written driver-side — launching Spark write jobs
        # for a 1-row metrics file and a 64-row lineage file is pure
        # per-epoch fixed cost, and fixed cost is what bounds small-epoch
        # sustained throughput at the 10^10-event target
        lineage_rows = (
            changes.groupBy(F.col("__bucket").alias("partition_id"))
            .agg(
                F.count("*").alias("keys_changed"),
                F.sum((F.col("__op") == "D").cast("int")).alias("deleted"),
                F.sum((F.col("__op") == "U").cast("int")).alias("upserted"),
            )
            .collect()
        )
        import pyarrow as pa
        import pyarrow.parquet as pq

        def _write_one(kind: str, cols: dict[str, pa.Array]) -> None:
            d = os.path.join(self.warehouse, kind, name, f"epoch={epoch}")
            os.makedirs(d, exist_ok=True)
            for stale in os.listdir(d):  # idempotent per-epoch overwrite
                os.remove(os.path.join(d, stale))
            pq.write_table(pa.table(cols), os.path.join(d, "part-00000.parquet"))

        _write_one(
            "_metrics",
            {
                "epoch": pa.array([epoch], pa.int64()),
                "events_in": pa.array([metrics["events_in"]], pa.int64()),
                "rejected": pa.array([metrics["rejected"]], pa.int64()),
                "schema_changes": pa.array([metrics["schema_changes"]], pa.int64()),
            },
        )
        _write_one(
            "_lineage",
            {
                "partition_id": pa.array(
                    [r["partition_id"] for r in lineage_rows], pa.int32()
                ),
                "keys_changed": pa.array(
                    [r["keys_changed"] for r in lineage_rows], pa.int64()
                ),
                "deleted": pa.array([r["deleted"] for r in lineage_rows], pa.int64()),
                "upserted": pa.array([r["upserted"] for r in lineage_rows], pa.int64()),
            },
        )
        return metrics

    # ------------------------------------------- compliance (purge/redact)
    def purge_where(
        self,
        table: LakeTable,
        predicate: str,
        epoch: int,
        epoch_info: dict | None = None,
        main_only: bool = False,
    ) -> dict:
        """Row-level takedown across the WHOLE lineage: tombstones every
        current main-table row matching the SQL ``predicate`` AND, in the
        same epoch, every registered derived table's rows for those keys
        (signature indexes, projection tables) plus retraction deltas to
        every registered aggregate view — the compliance contract a bare
        ``LakeTable.delete_where`` cannot give once deriveds exist (their
        content-derived rows — content_sha256, MinHash signatures — would
        silently outlive the purge, and resolve='sum' views would go stale).

        Exactly-once ACROSS tables via the same per-table epoch manifests as
        ``apply_epoch``: a crash between the main commit and a derived commit
        re-runs only the missing merges, with the change frame recomputed
        from the PRE-purge state (time travel to the epoch's commit parent),
        so the late tombstones/retractions are identical.

        Logical delete, same posture as Iceberg: physical byte removal needs
        ``compact()`` + ``expire_snapshots()`` on the main AND each derived
        table (reference analogue: the Cosmos upsert sink's keyed delete,
        K3 semantics).

        Raises if the warehouse's durable registry lists derived tables not
        re-registered in THIS process (their derive fns are code this
        process doesn't hold, so the cascade CANNOT reach them) — a purge
        that silently misses signature indexes is a compliance failure, not
        a convenience. ``main_only=True`` overrides, sweeping the main
        table alone on purpose — recoverable: re-running the SAME epoch
        with the deriveds registered completes the cascade through the
        partial-commit resume path (the change frame is recomputed from
        the pre-purge snapshot).
        """
        return self._purge_or_redact(
            table, predicate, epoch, None, epoch_info, main_only=main_only
        )

    def redact_where(
        self,
        table: LakeTable,
        predicate: str,
        set_exprs: dict[str, str],
        epoch: int,
        epoch_info: dict | None = None,
        main_only: bool = False,
    ) -> dict:
        """In-place redaction across the lineage: like ``purge_where`` but
        rewrites ``set_exprs`` (column -> SQL expression) on the matching
        rows as upserts instead of tombstoning. When ``content`` is redacted,
        ``content_sha256`` and ``size_bytes`` are recomputed automatically to
        preserve the table invariant (override by setting them explicitly),
        and every registered derived table re-derives from the REDACTED rows
        in the same epoch — e.g. the MinHash index re-signs the scrubbed
        text, so the old content stops matching near-dup probes. Same
        unregistered-derived refusal contract as ``purge_where``.

        Raises ``ValueError`` naming the violated CHECK constraints, before
        any write, when a rewritten row breaks one (Delta's ``UPDATE``
        rule): quarantining it would keep the unredacted row live. Also
        raises ``ValueError``, before any write, when ``set_exprs`` names a
        column the table lacks: the merge would drop it silently."""
        return self._purge_or_redact(
            table, predicate, epoch, set_exprs, epoch_info, main_only=main_only
        )

    def merge_into(
        self,
        table: LakeTable,
        source: DataFrame,
        *,
        when_matched: list[dict] | None = None,
        when_not_matched: list[dict] | None = None,
        when_not_matched_by_source: list[dict] | None = None,
        epoch: int,
        epoch_info: dict | None = None,
        main_only: bool = False,
        atomic: bool = False,
    ) -> dict:
        """Multi-clause MERGE INTO across the WHOLE lineage: compile the
        clause set once (``LakeTable.merge_into(compile_only=True)``) and
        route the SAME change frame through the main merge AND every
        registered derived table / aggregate view in the same epoch — the
        consistency contract a bare table-level ``merge_into`` cannot give
        once deriveds exist (clause-driven deletes would leave signature
        rows live, clause updates would leave sum views stale — the same
        hole class ``purge_where`` closes for ``delete_where``).

        Exactly-once across tables by per-table epoch manifests: on a
        crash-resume the change frame is recompiled against the PRE-epoch
        target state (``target_as_of``), so late derived merges land the
        identical rows — provided the caller re-presents the same
        ``source`` frame, the same determinism contract as
        ``apply_epoch``'s WAL slice. CHECK constraints gate before the
        fan-out, like ``apply_epoch``. Same unregistered-derived refusal
        contract as ``purge_where`` (``main_only=True`` overrides). With an
        SCD2 history table pending, a clause that deletes or leaves
        ``last_lsn`` unset raises ``ValueError`` before any write: the
        history orders versions by ``last_lsn`` and would keep the old
        version open.

        ``atomic=True`` publishes the main merge and every derived merge
        from ONE multi-table transaction through ``_apply_lineage``, the
        path ``apply_epoch`` uses: readers can never observe the clause
        effects on the main table ahead of its deriveds.
        """
        if not main_only:
            self._require_registered(table_name(table), "merge_into")
        pending = self._pending(table, epoch)
        # SCD2 history orders versions by last_lsn: a clause that keeps the
        # target's lsn (every delete, an update leaving last_lsn unset) would
        # land there as a late event and leave the old version open
        history = sorted(table_name(t) for t, _, kind in pending if kind == "history")
        keeps_lsn = [
            c
            for c in (when_matched or []) + (when_not_matched_by_source or [])
            if c.get("action") == "delete" or "last_lsn" not in (c.get("set") or {})
        ]
        if history and keeps_lsn:
            raise ValueError(
                f"merge_into on '{table_name(table)}' cannot maintain SCD2 "
                f"history table(s) {history}: clauses {keeps_lsn} delete or "
                "leave last_lsn unset, which the history would record as "
                "late events; nothing was written — set last_lsn in every "
                "update clause and apply deletes as change events (apply_epoch)"
            )
        main_done = str(epoch) in table.committed_epochs()
        if main_done and not pending:
            return {"epoch": epoch, "applied": False}
        if main_done:
            # resume after a partial commit: the main merge is already
            # published, so there is nothing left to make atomic — the
            # remaining derived merges converge per-table (idempotent)
            atomic = False
        target_as_of = (
            self._pre_epoch_sid(table, epoch, {"applied": False})
            if main_done
            else None
        )
        clauses = dict(
            when_matched=when_matched,
            when_not_matched=when_not_matched,
            when_not_matched_by_source=when_not_matched_by_source,
        )
        snap = table.current_snapshot()
        changes = table.merge_into(
            source, **clauses, compile_only=True, target_as_of=target_as_of
        )
        info = dict(epoch_info or {})
        info.setdefault("op", "merge_into")
        changes, changes_handle, n_quarantined = self._gate(table, changes, snap, epoch)
        try:
            return self._apply_lineage(
                table, changes, epoch, info, pending, atomic, snap, n_quarantined
            )
        finally:
            changes_handle.unpersist()

    def _purge_or_redact(
        self,
        table: LakeTable,
        predicate: str,
        epoch: int,
        set_exprs: dict[str, str] | None,
        epoch_info: dict | None,
        main_only: bool = False,
    ) -> dict:
        if not main_only:
            self._require_registered(table_name(table), "purge/redact")
        if set_exprs is not None:
            # before the resume shortcut too: its sidecar sweep writes
            table.require_columns(set_exprs, "redact_where")
        pending = self._pending(table, epoch)
        main_done = str(epoch) in table.committed_epochs()
        if main_done and not pending:
            # the sidecar sweeps below are idempotent rewrites, so they run
            # even on a crash-resume where every merge no-ops
            return {
                "epoch": epoch,
                "applied": False,
                **self._sweep_sidecars(table, predicate, set_exprs),
            }
        if main_done:
            # resume after a partial multi-table commit: the purged rows are
            # already gone from the current snapshot, so recompute the change
            # frame from the PRE-epoch state — deterministic, so the late
            # derived merges land exactly the rows the crashed run would have
            pre_sid = self._pre_epoch_sid(table, epoch, {"applied": False})
            old_rows = table.snapshot(as_of=pre_sid).filter(predicate)
        else:
            old_rows = table.snapshot().filter(predicate)
        # persist: feeds the main merge, every derive fn, and the aggregate
        # retraction deltas — one snapshot scan, not one per consumer
        old_rows = old_rows.persist()
        try:
            if set_exprs is None:
                changes = old_rows.withColumn("__op", F.lit("D"))
            else:
                changes = _rewrite(old_rows, set_exprs).withColumn("__op", F.lit("U"))
                # Delta's rule for UPDATE: a rewrite that breaks a CHECK
                # constraint raises BEFORE any write. Quarantining it would
                # leave the UNREDACTED row live in the main table while the
                # derived tables took the redacted one. On a resume the main
                # table already holds the rewrite, so the check is skipped.
                broken = [
                    name
                    for name, expr in sorted(table.check_constraints().items())
                    # SQL CHECK semantics, as in the write gate: NULL passes
                    if not main_done
                    and changes.filter(f"NOT coalesce(({expr}), true)").limit(1).count()
                ]
                if broken:
                    raise ValueError(
                        f"redact on '{table_name(table)}' rewrites rows that "
                        f"violate CHECK constraints {broken}; nothing was "
                        "written — choose set_exprs that satisfy them"
                    )
            # the quarantine and reject sidecars hold FULL payloads of
            # diverted rows, so a compliance sweep must reach them too (the
            # same hole class as unswept derived tables)
            swept = self._sweep_sidecars(table, predicate, set_exprs)
            info = dict(epoch_info or {})
            info.setdefault("op", "purge" if set_exprs is None else "redact")
            info.setdefault("predicate", predicate)
            info.setdefault("set_exprs", set_exprs)  # rebuild_derived replays it
            result = table.merge(changes, epoch=epoch, epoch_info=info)
            stats = {"epoch": epoch, **result}
            for dt, _fn, kind in pending:
                if kind == "history":
                    dt.merge(
                        self._history_sweep(dt, changes, predicate, set_exprs),
                        epoch=epoch,
                        epoch_info=info,
                    )
            # old_rows doubles as the pre-state of the changed keys: for a
            # purge/redact the changed keys ARE the matching rows, so no
            # second time-travel read is needed
            self._fan_out(
                table,
                [r for r in pending if r[2] != "history"],
                changes,
                epoch,
                info,
                lambda: old_rows.withColumn("__op", F.lit("U")),
            )
            if self._derived.get(table_name(table)):
                stats["derived_applied"] = [table_name(t) for t, *_ in pending]
            stats.update(swept)
            return stats
        finally:
            old_rows.unpersist()

    def _history_sweep(self, dt, changes, predicate, set_exprs) -> DataFrame:
        """A history table holds EVERY version of a key, so the compliance
        cascade must sweep all of them, not derive from the one-row-per-key
        change frame: purge tombstones the key's whole version history;
        redact rewrites the image columns of every version (content-derived
        columns are scrubbed to NULL — the pre-redaction content no longer
        exists to recompute them from).

        Victim keys = the keys the MAIN purge matched PLUS any key with a
        history version matching the predicate directly (keys already
        deleted from the main table still have compliance-relevant history;
        and a non-key predicate — content_sha256 = <leaked hash> — must
        sweep the matched keys' OTHER versions too, not just the
        individually-matching rows). The direct leg drops out only when the
        predicate references columns the history schema lacks
        (AnalysisException at plan bind — never a silent fallback on a
        transient error)."""
        from pyspark.errors import AnalysisException

        victim_keys = changes.select(*KEY_COLS)
        try:
            direct = dt.snapshot().filter(predicate).select(*KEY_COLS)
            victim_keys = victim_keys.unionByName(direct).distinct()
        except AnalysisException:
            pass  # predicate uses main-only columns
        hrows = dt.snapshot(keys_in=victim_keys)
        if set_exprs is None:
            return hrows.withColumn("__op", F.lit("D"))
        htypes = {f["name"]: f["type"] for f in dt.schema_fields()}
        dchanges = hrows
        for col, expr in set_exprs.items():
            if col in htypes:
                dchanges = dchanges.withColumn(col, F.expr(expr))
        if "content" in set_exprs:
            for col in ("content_sha256", "size_bytes"):
                if col in htypes and col not in set_exprs:
                    dchanges = dchanges.withColumn(col, F.lit(None).cast(htypes[col]))
        return dchanges.withColumn("__op", F.lit("U"))

    def _sweep_sidecars(
        self, table: LakeTable, predicate: str, set_exprs: dict[str, str] | None
    ) -> dict:
        """Sweep both payload sidecars of ``table``: the CHECK quarantine
        (``<table>/_quarantine``) and the dead-lettered WAL envelopes
        (``<warehouse>/_rejects/<table>``), which ``reprocess_rejects``
        would otherwise re-drive after a purge."""
        return {
            "quarantine_swept": self._sweep_sidecar(
                os.path.join(table.location, "_quarantine"), predicate, set_exprs
            ),
            "rejects_swept": self._sweep_sidecar(
                os.path.join(self.warehouse, "_rejects", table_name(table)),
                predicate,
                set_exprs,
            ),
        }

    def _sweep_sidecar(
        self, root: str, predicate: str, set_exprs: dict[str, str] | None
    ) -> int:
        """Purge (remove) or redact (rewrite) rows matching ``predicate``
        in the ``epoch=N`` dirs under ``root``. Rows where the predicate is
        NULL are kept (a sweep must never remove rows it cannot prove
        match); a column an epoch lacks reads as NULL there, as it does in
        the table. One read of every dir and one aggregate of each epoch's
        matching and total rows decide the sweep, so its job count does not
        grow with the number of epochs; only matching epochs are rewritten,
        each keeping its own columns and types, through a tmp dir + atomic
        rename. The whole sweep is idempotent. Returns the rows swept."""
        import pyarrow.parquet as pq
        from pyspark.errors import AnalysisException
        from pyspark.sql.types import StructType

        dirs, schemas = {}, {}
        for d in os.listdir(root) if os.path.isdir(root) else []:
            m = re.fullmatch(r"epoch=(-?\d+)", d)
            files = sorted(glob.glob(os.path.join(root, d, "*.parquet"))) if m else []
            if files:
                # one write per dir, so one footer holds the dir's Spark
                # schema: read locally, with no schema-inference job
                meta = pq.read_schema(files[0]).metadata[_SPARK_SCHEMA_KEY]
                dirs[int(m[1])] = os.path.join(root, d)
                schemas[int(m[1])] = StructType.fromJson(json.loads(meta))
        if not dirs:
            return 0
        # the union of the dirs' columns, an evolved column at its widened
        # type (Spark's mergeSchema refuses int + bigint)
        fields = {}
        for f in (f for s in schemas.values() for f in s.fields):
            prev = fields.get(f.name)
            if prev is None or (
                prev.dataType.simpleString(), f.dataType.simpleString()
            ) in _WIDEN_OK:
                fields[f.name] = f
        sdf = (
            self.spark.read.schema(StructType(list(fields.values())))
            .option("basePath", root)
            .parquet(*dirs.values())
        )
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        try:
            counts = (
                sdf.groupBy("epoch")
                .agg(F.count(F.lit(1)).alias("n"), F.count(F.when(hit, 1)).alias("hit"))
                .collect()
            )
        except AnalysisException:
            # predicate over columns no epoch has: nothing it can match
            return 0
        swept = 0
        for r in (r for r in counts if r["hit"]):
            qdir = dirs[r["epoch"]]
            swept += r["hit"]
            if set_exprs is None and r["hit"] == r["n"]:
                # every row matched a purge: drop the epoch dir outright
                # (an empty rewrite would leave a fileless dir)
                shutil.rmtree(qdir)
                continue
            rows = sdf.filter(F.col("epoch") == r["epoch"])
            new = rows.filter(~hit)
            if set_exprs is not None:
                new = new.unionByName(_rewrite(rows.filter(hit), set_exprs))
            own = [F.col(f.name).cast(f.dataType) for f in schemas[r["epoch"]].fields]
            tmp = f"{qdir}.tmp-sweep"
            shutil.rmtree(tmp, ignore_errors=True)
            # rebalance: AQE sizes the rewrite from the epoch's rows
            new.select(*own).hint("rebalance").write.parquet(tmp)
            shutil.rmtree(qdir)
            os.rename(tmp, qdir)
        return swept

    # ------------------------------------------------- branch publish
    def publish(self, table: LakeTable, branch: LakeTable) -> dict:
        """Branch publish across the WHOLE lineage: ``fast_forward`` the
        branch onto the main table, then maintain every registered derived
        table and aggregate view for each published epoch — the step a bare
        ``LakeTable.fast_forward`` cannot give once deriveds exist (same gap
        ``purge_where`` closes for deletes).

        Per-epoch frames come from the BRANCH's own change feed: its MoR
        delta layers ARE the exact per-epoch change frames, whereas the
        single fast_forward commit on the parent folds them into one
        combined delta — feeding that once per epoch would double-count
        resolve='sum' aggregate deltas.

        Exactly-once across tables via the same per-table epoch manifests as
        ``apply_epoch``: a crash between the fast_forward commit and a
        derived merge resumes cleanly — the main publish is skipped (the
        branch's retired marker records where it landed) and only the
        still-missing derived epochs apply, recomputed from the branch's
        immutable delta layers, so the late merges are byte-identical.

        Scale shape: the publish itself is O(branch's net-new files)
        metadata + link; lineage maintenance is O(that epoch's changes) per
        derived per epoch — identical to what apply_epoch would have paid
        had the epochs landed directly.
        """
        import json

        bo = branch.current_snapshot().get("branch_of") or {}
        retired_path = branch._retired_path()
        if os.path.exists(retired_path):
            with open(retired_path) as f:
                info = json.load(f)
            if not os.path.samefile(info["published_to"], table.location):
                raise ValueError(
                    f"branch {table_name(branch)!r} was published to "
                    f"{info['published_to']!r}, not to this table"
                )
            res = {
                "fast_forwarded": False,
                "resumed": True,
                "snapshot_id": info["snapshot_id"],
            }
            # a crash between the retire marker and fast_forward's tag drop
            # leaks the fork-base pin forever (unbounded expiry retention,
            # branch name unusable) — drop_tag is idempotent, finish it here
            if bo.get("name"):
                table.drop_tag(f"__branch_{bo['name']}")
        else:
            res = table.fast_forward(branch)

        # epochs the branch INTRODUCED (branch sids >= 1; sid 0 carries the
        # inherited fork ledger), bounded by the PUBLISHED branch head: a
        # branch commit racing past the publish must not leak its epoch into
        # the deriveds when the main table never adopted it
        published_head = res.get("branch_head")
        if published_head is None:
            try:
                ffmeta = table._load_snapshot(res["snapshot_id"])
                published_head = ffmeta.get("fast_forward_of", {}).get("branch_head")
            except ValueError:
                published_head = None  # expired FF commit: fall back to all
        introduced = [
            (e, sid, parent)
            for e, sid, parent in self._epoch_commits(branch)
            if sid > 0 and (published_head is None or sid <= published_head)
        ]

        # adopt the branch's sidecars per published epoch: apply_epoch wrote
        # metrics / per-partition lineage / dead-letter rejects under the
        # BRANCH's table name, and the CHECK quarantine lives under the
        # branch's location, so without this the parent's metrics() report,
        # quarantine() and reprocess_* would have holes for the published
        # epochs. Copy, not move — the branch stays readable history.
        for e, _sid, _parent in introduced:
            for kind in ("_metrics", "_lineage", "_rejects"):
                _adopt(
                    os.path.join(self.warehouse, kind, table_name(branch), f"epoch={e}"),
                    os.path.join(self.warehouse, kind, table_name(table), f"epoch={e}"),
                )
            _adopt(
                os.path.join(branch.location, "_quarantine", f"epoch={e}"),
                os.path.join(table.location, "_quarantine", f"epoch={e}"),
            )

        key_cols = table.current_snapshot()["key_cols"]
        info = {"op": "publish", "branch": os.path.abspath(branch.location)}
        maintained: list[str] = []
        # fast-forward-aware per-epoch recovery: a branch that itself
        # absorbed a multi-epoch sub-branch would otherwise feed the folded
        # commit delta once per epoch (double-counting sum aggregates)
        for e, src_t, c_parent, c_sid in self._epoch_change_bounds(
            branch, [c for c in introduced if self._pending(table, c[0])]
        ):
            pending = self._pending(table, e)
            if not pending:
                continue
            # persist: the change frame feeds every derive fn and the
            # aggregate pre-state semi-join — one read, not one per consumer
            changes = (
                src_t.changes_between(c_parent, c_sid)
                .withColumnRenamed("_change_type", "__op")
                .drop("_commit_snapshot")
                .persist()
            )
            try:
                # pre-epoch state of the changed keys on the BRANCH (the
                # fork base equals the parent's head at publish time, so the
                # branch-side chain of pre-states is the true lineage)
                applied = self._fan_out(
                    table,
                    pending,
                    changes,
                    e,
                    info,
                    lambda: src_t.snapshot(
                        as_of=c_parent,
                        keys_in=changes.select(*key_cols),
                        with_tombstones=True,
                    ),
                )
            finally:
                changes.unpersist()
            maintained += [f"{n}:{e}" for n in applied]
        res["derived_applied"] = maintained
        return res

    # ----------------------------------------------- stage facades (7.5)
    # Thin 1:1 surface over the operator library, mirroring the reference's
    # stage map (SURVEY.md section 7.5): ingest (S1-S5), validate (V1-V3 +
    # K2), transform (T1/T2), replay (section 2.9). Each is the same callable
    # the pipeline composes internally — exposed so a user of the reference
    # finds the familiar verbs on the engine object.

    def ingest(self, source_dir: str, table: LakeTable, checkpoint_dir: str, **kw):
        """Tail a directory of WAL files into ``table`` exactly once
        (receiver-debatcher S1 + autoloader S2 analogue). Returns the
        StreamingQuery."""
        from data_exchange_hl7_spark.streaming.stream_ingest import stream_apply

        return stream_apply(self.spark, self, source_dir, table, checkpoint_dir, **kw)

    def validate(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Verdict columns + ok/err branch: returns (accepted, rejected)
        (structure-validator V1-V3 + branch sidecar K2)."""
        return validate_ops.branch(validate_ops.validate(clean_content(df)))

    def transform(self, df: DataFrame, profile: dict, content_col: str = "content") -> DataFrame:
        """Profile-driven structural transform (json-lake T1): compiles the
        profile into nested struct column expressions."""
        from data_exchange_hl7_spark.operators.profile_transform import to_json_lake

        return to_json_lake(df, profile, content_col=content_col)

    def segments(self, df: DataFrame, content_col: str = "content", **kw) -> DataFrame:
        """Lake-of-segments flatten (T2)."""
        from data_exchange_hl7_spark.operators.profile_transform import segment_lake

        return segment_lake(df, content_col=content_col, **kw)

    def replay(self, events: DataFrame, **kw) -> LakeTable:
        """Deterministic full/selective replay into a fresh table
        (svc-hl7-replay semantics)."""
        from data_exchange_hl7_spark.streaming.runner import replay as _replay

        return _replay(self, events, **kw)

    def scd2(self, df: DataFrame, **kw) -> DataFrame:
        """Batch SCD Type-2 versioning over an ordered feed (the at-rest
        form of the incremental ``scd2_table``; operators/temporal.scd2)."""
        from data_exchange_hl7_spark.operators.temporal import scd2 as _scd2

        kw.setdefault("key_cols", KEY_COLS)
        return _scd2(df, **kw)

    def asof_join(self, facts: DataFrame, dim: DataFrame, **kw) -> DataFrame:
        """Point-in-time enrichment: facts joined to dimension state as of
        each fact's LSN (operators/temporal.asof_join)."""
        from data_exchange_hl7_spark.operators.temporal import asof_join as _aj

        kw.setdefault("key_cols", KEY_COLS)
        return _aj(facts, dim, **kw)

    def changelog(self, df: DataFrame, **kw) -> DataFrame:
        """Upsert/delete feed re-emitted as an insert-only retraction stream
        (+I/-U/+U/-D; operators/temporal.changelog_normalize)."""
        from data_exchange_hl7_spark.operators.temporal import (
            changelog_normalize as _cn,
        )

        kw.setdefault("key_cols", KEY_COLS)
        kw.setdefault("delete_predicate", F.col("__op") == "D")
        return _cn(df, **kw)

    # ------------------------------------------------------------- reads
    def metrics(self, name: str = "repo_files") -> DataFrame:
        return read_sidecar(self.spark, self.warehouse, "_metrics", name)

    def lineage(self, name: str = "repo_files") -> DataFrame:
        return read_sidecar(self.spark, self.warehouse, "_lineage", name)

    def rejects(self, name: str = "repo_files") -> DataFrame:
        return read_sidecar(self.spark, self.warehouse, "_rejects", name)

    def reprocess_rejects(
        self,
        table: LakeTable,
        epoch: int,
        fix=None,
        source_epochs: list[int] | None = None,
    ) -> dict:
        """Re-drive dead-lettered events after a fix (the reference's
        failure-replay path, svc-hl7-replay ReplayController.kt:100-139
        applied to the reject stream instead of the WAL).

        Reads the reject table (full envelopes), applies ``fix`` (a
        DataFrame -> DataFrame repair, e.g. backfilling the missing commit
        metadata that caused the rejection), and runs the normal exactly-once
        apply under a NEW epoch id. Rows that still fail validation land in
        that epoch's rejects.

        Ordering vs the live stream: the read-time per-key window orders by
        last_lsn, so a reprocessed old version can never clobber a newer
        live one.
        """
        rej = self.rejects(table_name(table))
        if source_epochs is not None:
            rej = rej.filter(F.col("epoch").isin(*source_epochs))
        events = rej.drop("status", "report_entries", "epoch")
        if fix is not None:
            events = fix(events)
        return self.apply_epoch(events, table, epoch=epoch)

    def reprocess_quarantine(
        self,
        table: LakeTable,
        epoch: int,
        fix=None,
        source_epochs: list[int] | None = None,
    ) -> dict:
        """Re-drive CHECK-constraint-quarantined rows after a fix — the
        quarantine half of the dead-letter workflow (``reprocess_rejects``
        handles validation rejects).

        Quarantined rows are post-transform change rows with the full
        payload, so they are re-synthesized into WAL envelopes (op/lsn/ts
        from the row, evolved columns folded back into
        ``supporting_metadata`` so the schema-meta extraction re-derives
        them) and pushed through the NORMAL exactly-once apply under a NEW
        epoch: validation, the constraint gate (still-violating rows return
        to quarantine), derived/aggregate maintenance, and metrics all run
        — a side-door merge would silently skip the derived fan-out.

        MoR read-time ordering by last_lsn guarantees a re-driven old
        version can never clobber a newer live row (the same contract as
        reject re-drives)."""
        q = table.quarantine()
        if source_epochs is not None:
            q = q.filter(F.col("epoch").isin(*source_epochs))
        if fix is not None:
            q = fix(q)
        snap = table.current_snapshot()
        schema_meta = snap["properties"].get("schema_meta", {})
        meta_entries: list = []
        for fld, m in schema_meta.items():
            if fld in q.columns:
                meta_entries += [F.lit(m["src"]), F.col(fld).cast("string")]
        if meta_entries:
            sm = F.map_filter(
                F.create_map(*meta_entries), lambda k, v: v.isNotNull()
            )
        else:
            sm = F.create_map().cast("map<string,string>")
        events = q.select(
            F.when(F.col("__op") == "D", F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("op"),
            F.col("last_lsn").alias("lsn"),
            F.col("last_ts").alias("ts"),
            "repo",
            "path",
            F.lit(None).cast("string").alias("new_path"),
            "commit",
            "lang",
            "content",
            F.lit(None).cast("string").alias("schema_field"),
            sm.alias("supporting_metadata"),
            F.lit("quarantine-redrive").alias("batch_id"),
            F.lit(0).alias("message_index"),
            F.sha2(
                F.concat_ws("|", "repo", "path", F.col("last_lsn").cast("string")),
                256,
            ).alias("event_id"),
            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias(
                "content_sha256"
            ),
        )
        return self.apply_epoch(events, table, epoch=epoch)


# the footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _rewrite(df: DataFrame, set_exprs: dict[str, str]) -> DataFrame:
    """``df`` with ``set_exprs`` applied to the columns it has. When
    ``content`` is rewritten, ``content_sha256`` and ``size_bytes`` are
    recomputed where ``df`` has them (typed from its own schema) unless
    set explicitly, so the table invariant holds in the redacted rows of
    the main table and of its sidecars alike."""
    for col, expr in set_exprs.items():
        if col in df.columns:
            df = df.withColumn(col, F.expr(expr))
    if "content" in set_exprs and "content" in df.columns:
        body = F.coalesce(F.col("content"), F.lit(""))
        if "content_sha256" in df.columns and "content_sha256" not in set_exprs:
            df = df.withColumn("content_sha256", F.sha2(body, 256))
        if "size_bytes" in df.columns and "size_bytes" not in set_exprs:
            df = df.withColumn(
                "size_bytes", F.length(body).cast(df.schema["size_bytes"].dataType)
            )
    return df


def table_name(table: LakeTable) -> str:
    return os.path.basename(table.location.rstrip("/"))


def read_sidecar(spark: SparkSession, warehouse: str, kind: str, name: str) -> DataFrame:
    """Every ``epoch=N`` dir of one engine sidecar (``_metrics``,
    ``_lineage`` or ``_rejects``) of table ``name``, ``epoch`` a column."""
    base = os.path.join(warehouse, kind, name)
    return spark.read.option("basePath", base).parquet(os.path.join(base, "epoch=*"))


def _adopt(src: str, dst: str) -> None:
    """Copy sidecar dir ``src`` to ``dst`` unless ``dst`` exists. Staged
    via a tmp dir + atomic rename: a crash mid-copy must not leave a
    partial dir the exists-skip resume would then keep forever."""
    if os.path.isdir(src) and not os.path.exists(dst):
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = f"{dst}.tmp-publish"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(src, tmp)
        os.rename(tmp, dst)
