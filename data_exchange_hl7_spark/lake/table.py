"""LakeTable: parquet + JSON-snapshot table format with Iceberg-style semantics.

This container ships no Iceberg/Delta jars, so the lake layer is implemented
in-repo: immutable parquet data files, a JSON snapshot log, an atomically
swapped ``current`` pointer, field-ID based schema evolution, and keyed
merge-on-read MERGE over hash buckets. The public surface
(merge / add_column / rename_column / widen_column / snapshot / epoch
manifest) is the subset of Iceberg the engine needs; on a real cluster the
same calls map 1:1 onto ``MERGE INTO`` + ``ALTER TABLE`` against Iceberg.

Reference semantics covered here:
  - Cosmos DB bulk upsert (fns-sidecars/fn-sc-cosmosdb-sink Function.kt:39-82,
    RecordService.kt:18-28) -> ``merge`` keyed upsert
  - idempotent replay (SURVEY.md section 2.9 exactly-once row): the epoch
    manifest recorded in each snapshot makes re-applying a committed epoch a
    no-op
  - mergeSchema writes (spikes/cbs-pipeline torework_merge_hl7_to_csv.scala:54)
    -> explicit add/rename/widen with field IDs (rename is ID-based, so replay
    across an evolution boundary stays correct — SURVEY.md section 7.4 item 3)

Scale design: data is hash-bucketed on the merge key (Iceberg
``bucket(N, key)`` transform analogue). MERGE appends one delta file per
bucket its changed keys hash into, and ``compact()`` folds only the buckets
that carry deltas; the bucket lists are bounded by ``n_buckets`` (metadata,
not data). At 100 TB you raise ``n_buckets`` (e.g. 4096-65536) so each
bucket is a few GB.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import threading
import time
import uuid
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_TYPE_MAP = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}

# legal type widenings (Iceberg spec: int->long, float->double)
_WIDEN_OK = {("int", "bigint"), ("int", "long"), ("float", "double")}

# parquet row-group bloom filters on the key columns: the standard lever for
# point lookups on hash-bucketed files, where min/max stats are useless (a
# hash bucket's file spans the whole key range, but a bloom answers "is this
# exact key here" per row group). expected-NDV sizes the filter for the
# per-bucket-file key count of a 1M-event epoch at 64 buckets; parquet clamps
# at parquet.bloom.filter.max.bytes regardless.
_BLOOM_EXPECTED_NDV = 20_000


def _spark_type(name: str) -> T.DataType:
    if name.startswith("map<"):
        k, v = name[4:-1].split(",", 1)
        return T.MapType(_spark_type(k.strip()), _spark_type(v.strip()))
    if name.startswith("array<"):
        return T.ArrayType(_spark_type(name[6:-1].strip()))
    return _TYPE_MAP[name]


def _union(parts: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, parts)


class ConcurrentCommitError(RuntimeError):
    pass


class CheckConstraintError(RuntimeError):
    """Existing rows violate a CHECK constraint being added."""


class MergeCardinalityError(RuntimeError):
    """merge_into source has multiple rows for one target key (the Delta
    'multiple source rows matched' error): which clause fires — and with
    which payload — would be nondeterministic, so refuse."""


# One lock per table meta dir: serializes the commit critical section for
# in-process concurrent writers (threads sharing one SparkSession — the
# local deployment mode). Cross-process arbitration is the O_EXCL create in
# _write_snapshot.
_COMMIT_LOCKS: dict[str, threading.Lock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


def _commit_lock(meta_dir: str) -> threading.Lock:
    key = os.path.realpath(meta_dir)
    with _COMMIT_LOCKS_GUARD:
        return _COMMIT_LOCKS.setdefault(key, threading.Lock())


# The on-disk names, matched here and built by the name helpers at the top
# of LakeTable: committed manifests ``_meta/v<sid:08d>.json``, staged ones
# ``_meta/staged-<token>.json``, and data roots ``[sd]<sid:08d>-<hex8>``
# under ``data/`` (``s`` base files, ``d`` delta files; ``sid`` is the
# snapshot the write was staged for, so a root above ``current`` belongs to
# an in-flight writer).
_MANIFEST_RE = re.compile(r"^(?:v(\d{8})|staged-[0-9a-f]+)\.json$")
_ROOT_RE = re.compile(r"^([sd])(\d{8})(?:-[0-9a-f]{8})?$")


class LakeTable:
    """A bucketed, snapshot-versioned parquet table with keyed MERGE."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location
        self.meta_dir = os.path.join(location, "_meta")
        self.data_dir = os.path.join(location, "data")

    # ------------------------------------------------------------ names
    def _snapshot_path(self, sid: int) -> str:
        return os.path.join(self.meta_dir, f"v{sid:08d}.json")

    def _staged_path(self, token: str) -> str:
        return os.path.join(self.meta_dir, f"staged-{token}.json")

    def _current_sid(self) -> int:
        with open(os.path.join(self.meta_dir, "current")) as f:
            return int(f.read().strip())

    def _retired_path(self) -> str:
        return os.path.join(self.meta_dir, "retired.json")

    def _retire(self, published_to: str, sid: int) -> None:
        """Mark this branch published as snapshot ``sid`` of the table at
        ``published_to``: its further commits raise."""
        with open(self._retired_path(), "w") as f:
            json.dump({"published_to": os.path.abspath(published_to), "snapshot_id": sid}, f)

    @staticmethod
    def _staging_rel(prefix: str, new_sid: int) -> str:
        """Unique per-attempt data root (Iceberg writes UUID-named data
        files for the same reason): two writers racing from the same parent
        both derive new_sid = parent+1, and without a unique suffix their
        DATA writes collide before the metadata CAS ever runs. The loser's
        root becomes an orphan that the next sweep removes."""
        return f"{prefix}{new_sid:08d}-{uuid.uuid4().hex[:8]}"

    @staticmethod
    def _parse_root(name: str) -> tuple[str, int] | None:
        """``(kind, sid)`` of a data root name; None for any other name."""
        m = _ROOT_RE.match(name)
        return (m.group(1), int(m.group(2))) if m else None

    def _manifest_files(self) -> dict[str, int | None]:
        """Every manifest file in ``_meta``: path -> sid for a committed
        manifest, None for a staged one."""
        out = {}
        for fname in os.listdir(self.meta_dir):
            m = _MANIFEST_RE.match(fname)
            if m:
                sid = m.group(1)
                out[os.path.join(self.meta_dir, fname)] = None if sid is None else int(sid)
        return out

    # ------------------------------------------------------------ create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        schema: list[tuple[str, str]],
        key_cols: list[str],
        n_buckets: int = 64,
        order_col: str | None = None,
        resolve: str = "latest",
    ) -> "LakeTable":
        """Create an empty table. ``schema`` is [(name, type_string), ...].

        Every merge appends bucketed delta files (merge-on-read, the Iceberg
        MoR analogue) and reads resolve the layers per key — write cost per
        epoch is O(changes), not O(table), which is what survives a
        10^10-event stream. ``compact()`` folds the deltas back into base
        files; a read-optimized table is one compacted after every merge
        (``MicroBatchRunner(compact_every=1)``).

        ``resolve``: read-time resolution semantics for the layers.
        "latest" (default) keeps the newest row per key ordered by
        ``order_col`` (required) and honors ``D`` tombstones. "sum" makes
        the table ADDITIVE — every non-key column must be numeric, merge
        rows are per-key DELTAS, and reads resolve by summing all layers per key
        (compaction folds partial sums; a key removed from the modeled
        domain is expressed as a negative delta, never a tombstone). This
        is the storage shape for incrementally-maintained aggregate
        materialized views: write cost O(deltas), read cost one hash agg,
        no read-modify-write anywhere.
        """
        if resolve not in ("latest", "sum"):
            raise ValueError(f"unknown resolve {resolve!r}")
        # reject unsupported type strings NOW, not as an opaque KeyError at
        # the first read/merge of an already-committed table
        for n, ty in schema:
            try:
                _spark_type(ty)
            except (KeyError, ValueError, IndexError):
                raise ValueError(
                    f"unsupported type {ty!r} for column {n!r}; "
                    f"supported scalars: {sorted(_TYPE_MAP)} "
                    "(plus array<...> / map<...> of these)"
                ) from None
        if resolve == "sum":
            # exact membership, not prefix: every name here must both be
            # summable and exist in _TYPE_MAP
            _numeric = {"int", "bigint", "long", "float", "double"}
            bad = [
                (n, ty) for n, ty in schema
                if n not in key_cols and ty.lower() not in _numeric
            ]
            if bad:
                raise ValueError(f"additive tables need numeric value columns; got {bad}")
        elif not order_col:
            raise ValueError("resolve='latest' requires order_col for read resolution")
        t = cls(spark, location)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        fields = [
            {"id": i + 1, "name": n, "type": ty} for i, (n, ty) in enumerate(schema)
        ]
        snap = {
            "snapshot_id": 0,
            "parent": None,
            "operation": "create",
            "schema_version": 0,
            "schemas": {"0": fields},
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "order_col": order_col,
            "resolve": resolve,
            "next_field_id": len(fields) + 1,
            "buckets": {},  # bucket -> {"files": [...], "schema_version": int}
            "deltas": [],  # [{"files": {bucket: [...]}, "schema_version": int}]
            "properties": {"epochs": {}},
            "committed_at": time.time(),
        }
        t._write_snapshot(snap, expected_parent=None)
        return t

    @classmethod
    def exists(cls, location: str) -> bool:
        return os.path.exists(os.path.join(location, "_meta", "current"))

    # ------------------------------------------------------------ metadata
    def current_snapshot(self) -> dict[str, Any]:
        with open(self._snapshot_path(self._current_sid())) as f:
            return json.load(f)

    def _load_snapshot(self, snapshot_id: int | None = None) -> dict[str, Any]:
        """Load a specific committed snapshot (``None`` = current). Raises if
        the snapshot metadata has been expired — same contract as Iceberg
        time travel past the retention window."""
        if snapshot_id is None:
            return self.current_snapshot()
        path = self._snapshot_path(snapshot_id)
        if not os.path.exists(path):
            raise ValueError(
                f"snapshot {snapshot_id} not found (never committed or expired)"
            )
        with open(path) as f:
            return json.load(f)

    def _ancestors(self, snap: dict) -> Iterator[dict[str, Any]]:
        """Yield ``snap`` and then its ancestors, newest first, following
        parent pointers until the root or the first expired parent."""
        s = snap
        while True:
            yield s
            if s["parent"] is None or not os.path.exists(self._snapshot_path(s["parent"])):
                return
            s = self._load_snapshot(s["parent"])

    def history(self) -> list[dict[str, Any]]:
        """Snapshot lineage, newest first — the Iceberg ``table.history()``
        analogue. Walks parent pointers until the chain hits an expired
        snapshot. Each entry is metadata-only (no data read)."""
        return [
            {
                "snapshot_id": s["snapshot_id"],
                "parent": s["parent"],
                "operation": s.get("operation", "unknown"),
                "committed_at": s["committed_at"],
                "schema_version": s["schema_version"],
                "n_delta_layers": len(s.get("deltas", [])),
                # epoch keys are stringified ints: sort numerically, or
                # '10' orders before '2' once a table passes 9 epochs
                "epochs": sorted(s["properties"]["epochs"], key=int),
                "summary": s.get("summary"),
            }
            for s in self._ancestors(self.current_snapshot())
        ]

    # ----------------------------------------------- metadata tables
    # Iceberg exposes table metadata AS tables (`db.t.files`, `.snapshots`,
    # `.refs`) so operational queries — delta depth per bucket, file-size
    # distribution before a compaction, tag audit — are plain SQL. Same
    # here: each returns a DataFrame built from the manifest (+ parquet
    # footers for sizes), driver-side and metadata-bounded (one row per
    # file / snapshot / tag, never a data-page read).

    def meta_files(self, as_of: int | str | None = None) -> DataFrame:
        """One row per live data file of the snapshot: (snapshot_id, bucket,
        file, kind base|delta, delta_layer, schema_version, size_bytes,
        record_count). The Iceberg ``files`` metadata-table analogue."""
        import pyarrow.parquet as pq

        snap = self._load_snapshot(
            self._resolve_ref(as_of) if as_of is not None else None
        )
        rows = []

        def _add(bucket: str, rel: str, kind: str, layer: int, sv: int):
            size = nrec = None
            path = os.path.join(self.data_dir, rel)
            try:
                size = os.path.getsize(path)
                nrec = pq.ParquetFile(path).metadata.num_rows
            except Exception:
                pass  # expired/foreign file: row still lists the reference
            rows.append(
                (snap["snapshot_id"], int(bucket), rel, kind, layer, sv, size, nrec)
            )

        for b, e in snap["buckets"].items():
            for rel in e["files"]:
                _add(b, rel, "base", -1, e["schema_version"])
        for layer, d in enumerate(snap.get("deltas", [])):
            for b, fs in d["files"].items():
                for rel in fs:
                    _add(b, rel, "delta", layer, d["schema_version"])
        schema = (
            "snapshot_id long, bucket int, file string, kind string, "
            "delta_layer int, schema_version int, size_bytes long, "
            "record_count long"
        )
        return self.spark.createDataFrame(rows, schema)

    def meta_snapshots(self) -> DataFrame:
        """``history()`` as a DataFrame — the Iceberg ``snapshots`` table."""
        rows = [
            (
                h["snapshot_id"],
                h["parent"],
                h["operation"],
                float(h["committed_at"]),
                h["schema_version"],
                h["n_delta_layers"],
                len(h["epochs"]),
                (h.get("summary") or {}).get("added_files"),
                (h.get("summary") or {}).get("removed_files"),
                (h.get("summary") or {}).get("added_records"),
            )
            for h in self.history()
        ]
        schema = (
            "snapshot_id long, parent long, operation string, "
            "committed_at double, schema_version int, n_delta_layers int, "
            "n_epochs int, added_files int, removed_files int, "
            "added_records long"
        )
        return self.spark.createDataFrame(rows, schema)

    def meta_refs(self) -> DataFrame:
        """Tags as a DataFrame — the Iceberg ``refs`` table."""
        rows = [(name, sid) for name, sid in sorted(self.tags().items())]
        return self.spark.createDataFrame(
            rows or [], "name string, snapshot_id long"
        )

    def _write_snapshot(self, snap: dict, expected_parent: int | None) -> None:
        """Atomic commit: write vN.json, then swap the ``current`` pointer.

        Optimistic concurrency (Iceberg's compare-and-swap on the metadata
        pointer), serialized on two levels so a check-then-write race cannot
        lose a commit:

        - an in-process lock per table meta dir makes the check+create+swap
          one critical section for threaded writers (the common local case);
        - the vN.json file itself is created with O_CREAT|O_EXCL — every
          committer derives sid = parent + 1, so across processes the
          filesystem arbitrates: exactly one writer creates v{N+1} and the
          loser gets EEXIST -> ConcurrentCommitError before any pointer
          move. (A writer that crashes in the instant between the EXCL
          create and the pointer swap leaves an orphaned v{N+1}.json that
          blocks the next commit; recovery is deleting that file — the
          pointer never moved, so no committed state references it.)
        """
        # _commit, the one place a child snapshot is derived, builds it as
        # dict(parent) + updates, so operation-specific fields would
        # otherwise leak onto every descendant (e.g. a merge after a rollback
        # inheriting a stale rollback_of; inert — consumers also check
        # operation — but a lie in the manifest)
        if snap.get("operation") != "rollback":
            snap.pop("rollback_of", None)
        if snap.get("operation") != "fast_forward":
            snap.pop("fast_forward_of", None)
        # commit summary (Iceberg snapshot-summary analogue): file-set diff
        # vs the parent plus added record counts from the per-file stats —
        # metadata math over lists already in memory, never a data read.
        # Defensive: a summary failure must never fail a commit.
        try:
            snap["summary"] = self._commit_summary(snap)
        except Exception:
            snap.pop("summary", None)
        with _commit_lock(self.meta_dir):
            # retired check INSIDE the lock: a merge that blocked behind a
            # publishing fast_forward must see the retire marker the publish
            # wrote while holding this lock, not a pre-block stale read
            if os.path.exists(self._retired_path()):
                raise ConcurrentCommitError(
                    "this branch was published via fast_forward and is "
                    "retired; fork a new branch from the target table to "
                    "continue writing"
                )
            cur_path = os.path.join(self.meta_dir, "current")
            if os.path.exists(cur_path):
                actual = self._current_sid()
                if expected_parent is None or actual != expected_parent:
                    raise ConcurrentCommitError(
                        f"current={actual}, expected parent={expected_parent}"
                    )
            sid = snap["snapshot_id"]
            vpath = self._snapshot_path(sid)
            try:
                fd = os.open(vpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
            except FileExistsError:
                raise ConcurrentCommitError(
                    f"snapshot {sid} already committed by a concurrent writer"
                ) from None
            with os.fdopen(fd, "w") as f:
                json.dump(snap, f)
            tmp = cur_path + f".tmp{sid}"
            with open(tmp, "w") as f:
                f.write(str(sid))
            os.replace(tmp, cur_path)  # atomic on POSIX

    def _commit(
        self,
        snap: dict,
        operation: str,
        epoch: int | None = None,
        epoch_info: dict | None = None,
        publish: bool = True,
        **updates,
    ) -> dict:
        """Derive the child of ``snap`` and commit it (move ``current``) or
        stage it for audit — the one place a snapshot is built from its
        parent. The child is ``snap`` with sid = parent + 1, ``operation``
        and ``committed_at`` set, the ``epoch`` ledger entry (when given)
        written into a private copy of ``properties``, then ``updates``
        applied on top.

        ``committed_at`` is set once, here, and doubles as the transaction
        fingerprint (``lake/txn.py`` reads it from the staged file and
        compares it after publish), so a staged child must reach
        ``publish_staged`` byte for byte. Staged snapshots live at
        ``_meta/staged-<token>.json`` — OUTSIDE the vN namespace, so a
        concurrent real commit can never overwrite one.

        Returns ``{"snapshot_id": sid}``, plus ``"staged": token`` when
        ``publish=False``.
        """
        sid = snap["snapshot_id"] + 1
        child = dict(snap)
        child.update(
            snapshot_id=sid,
            parent=snap["snapshot_id"],
            operation=operation,
            committed_at=time.time(),
        )
        if epoch is not None:
            props = json.loads(json.dumps(snap["properties"]))
            props["epochs"][str(epoch)] = epoch_info or {}
            child["properties"] = props
        child.update(updates)
        if publish:
            self._write_snapshot(child, expected_parent=snap["snapshot_id"])
            return {"snapshot_id": sid}
        token = uuid.uuid4().hex[:12]
        with open(self._staged_path(token), "w") as f:
            json.dump(child, f)
        return {"snapshot_id": sid, "staged": token}

    @staticmethod
    def _referenced_files(s: dict) -> set[str]:
        ref: set[str] = set()
        for e in s["buckets"].values():
            ref.update(e["files"])
        for d in s.get("deltas", []):
            for fs in d["files"].values():
                ref.update(fs)
        return ref

    def _commit_summary(self, snap: dict) -> dict:
        parent_id = snap.get("parent")
        pfiles: set[str] = set()
        if parent_id is not None and os.path.exists(self._snapshot_path(parent_id)):
            pfiles = self._referenced_files(self._load_snapshot(parent_id))
        nfiles = self._referenced_files(snap)
        added = nfiles - pfiles
        stats_all: dict = {}
        for e in snap["buckets"].values():
            stats_all.update(e.get("stats") or {})
        for d in snap.get("deltas", []):
            stats_all.update(d.get("stats") or {})
        counts = [(stats_all.get(f) or {}).get("#rows") for f in added]
        return {
            "added_files": len(added),
            "removed_files": len(pfiles - nfiles),
            # None ONLY when an added file predates row-count stats; a
            # commit adding zero files truthfully reports 0, so a consumer
            # can distinguish no-op commits from unknown write volume
            "added_records": (
                sum(counts) if all(c is not None for c in counts) else None
            ),
        }

    # ------------------------------------------------------------ refs
    def create_tag(self, name: str, snapshot_id: int | None = None) -> dict:
        """Name a committed snapshot (Iceberg tag). Tags live in
        ``_meta/tags.json`` and pin their snapshot AGAINST expiry — a tagged
        snapshot's metadata and files are retained until the tag is dropped
        (checked by ``expire_snapshots``)."""
        sid = (
            self.current_snapshot()["snapshot_id"]
            if snapshot_id is None
            else self._load_snapshot(snapshot_id)["snapshot_id"]
        )
        with _commit_lock(self.meta_dir):
            tags = self.tags()
            tags[name] = sid
            self._write_tags(tags)
        return {"tag": name, "snapshot_id": sid}

    def drop_tag(self, name: str) -> None:
        with _commit_lock(self.meta_dir):
            tags = self.tags()
            tags.pop(name, None)
            self._write_tags(tags)

    def _write_tags(self, tags: dict[str, int]) -> None:
        """tmp + os.replace, same discipline as the ``current`` pointer: a
        crash mid-write must never leave truncated JSON (tags() feeds expiry
        pinning and snapshot(as_of=tag)). Callers hold the table's commit
        lock so concurrent create/drop cannot lose each other's tags."""
        path = os.path.join(self.meta_dir, "tags.json")
        tmp = f"{path}.tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(tags, f)
        os.replace(tmp, path)

    def tags(self) -> dict[str, int]:
        path = os.path.join(self.meta_dir, "tags.json")
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def _resolve_ref(self, ref: int | str) -> int:
        if isinstance(ref, str):
            tags = self.tags()
            if ref not in tags:
                raise ValueError(f"unknown tag {ref!r}")
            return tags[ref]
        return ref

    def rollback_to(self, ref: int | str) -> dict:
        """Roll the table back to an earlier committed snapshot (the Iceberg
        ``rollback_to_snapshot`` analogue; ``ref`` is a snapshot id or tag) —
        the recovery primitive for a bad epoch: a poisoned upstream batch is
        rolled off and the corrected batch re-applied, without replaying the
        whole stream.

        Semantics, all chosen to match Iceberg:

        - History stays LINEAR: rollback is a NEW commit (``operation:
          "rollback"``, parent = current) whose DATA state — base buckets,
          delta layers, bucket count, and the exactly-once epoch ledger — is
          copied from the target snapshot. No data file is read or written;
          this is a metadata-only commit, so it composes with the sid =
          parent + 1 / O_EXCL commit protocol unchanged (the reason mutable
          branches were deferred does not apply here).
        - SCHEMA metadata is NOT reverted (Iceberg rollback keeps current
          table schema): the rollback snapshot carries the current
          ``schemas`` map / ``schema_version`` / ``next_field_id``, and the
          restored files — whose bucket entries keep their own (older)
          schema_version — project through by field ID exactly like any
          post-evolution read (columns added since the target read as null).
        - The EPOCH LEDGER is restored from the target, so re-applying a
          corrected batch under the SAME epoch id proceeds instead of being
          skipped, and the replayed ledger behaves as if the bad commits
          never happened. Epochs are LSN-monotone per the compaction
          contract; rolling back and re-issuing the tail preserves that.
        - Time travel still reads the rolled-off snapshots until
          ``expire_snapshots`` drops them; the restored files themselves are
          referenced by the (always-kept) current snapshot, so expiry never
          reclaims them — liveness is per-file, not per-staging-root.
        - The change-data-feed emits NO rows for a rollback commit
          (``changes_between`` walks per-snapshot NEW delta layers; a
          rollback has fewer layers than its parent). Incremental consumers
          must treat a rollback like Iceberg's: re-sync from the restored
          snapshot, not from the feed.
        - Table-level only, same caveat as ``delete_where``: engine-
          registered derived tables / aggregate views are not rewound — use
          ``Engine.rebuild_derived`` after a base-table rollback.
        """
        cur = self.current_snapshot()
        target = self._load_snapshot(self._resolve_ref(ref))
        if target["snapshot_id"] == cur["snapshot_id"]:
            return {"rolled_back": False, "snapshot_id": cur["snapshot_id"]}
        props = json.loads(json.dumps(cur["properties"]))
        props["epochs"] = json.loads(json.dumps(target["properties"]["epochs"]))
        committed = self._commit(
            cur,
            "rollback",
            rollback_of=target["snapshot_id"],
            buckets=json.loads(json.dumps(target["buckets"])),
            deltas=json.loads(json.dumps(target.get("deltas", []))),
            n_buckets=target["n_buckets"],
            properties=props,
        )
        return {
            "rolled_back": True,
            "snapshot_id": committed["snapshot_id"],
            "restored_snapshot": target["snapshot_id"],
        }

    # ------------------------------------------------------------ branches
    @staticmethod
    def _remap_manifest_refs(snap: dict, src_data_dir: str, dst_data_dir: str) -> dict:
        """Deep-copy a snapshot manifest remapping every data-file reference
        (bucket files, delta files, and their stats keys) from being relative
        to ``src_data_dir`` to being relative to ``dst_data_dir``. File
        contents are never touched — this is the metadata half of a shallow
        clone / fast-forward."""
        src = os.path.abspath(src_data_dir)
        dst = os.path.abspath(dst_data_dir)

        def remap(rel: str) -> str:
            return os.path.relpath(os.path.normpath(os.path.join(src, rel)), dst)

        out = json.loads(json.dumps(snap))
        for entry in out["buckets"].values():
            entry["files"] = [remap(p) for p in entry["files"]]
            if "stats" in entry:
                entry["stats"] = {remap(p): s for p, s in entry["stats"].items()}
        for d in out.get("deltas", []):
            d["files"] = {b: [remap(p) for p in fs] for b, fs in d["files"].items()}
            if "stats" in d:
                d["stats"] = {remap(p): s for p, s in d["stats"].items()}
        return out

    def branch(
        self,
        dest_location: str,
        name: str | None = None,
        at: int | str | None = None,
    ) -> "LakeTable":
        """Fork an isolated writable branch of this table (Iceberg branch /
        Delta shallow-clone analogue) as its OWN table directory whose first
        snapshot references this table's data files by metadata only — no
        data is copied, and the commit protocol stays strictly linear per
        table (the sid = parent + 1 / O_EXCL arbiter is untouched, which is
        why r4 deferred in-table mutable branches: two children of one
        parent would break that invariant; a branch-as-table has exactly one
        lineage).

        Mechanics:
          - the base snapshot (``at`` = sid/tag, default current) is deep-
            copied into the branch's v0 with every file reference rewritten
            relative to the branch's data dir (``../``-style paths on a
            filesystem; absolute URIs on an object store);
          - the base snapshot is pinned on the parent with tag
            ``__branch_<name>`` so parent ``expire_snapshots`` cannot delete
            files the branch still references (dropping that tag manually
            while the branch lives is the Delta ``VACUUM``-breaks-clones
            footgun; ``fast_forward`` drops it for you);
          - the epoch ledger is inherited, so exactly-once replay semantics
            hold on the branch (re-applying a parent-committed epoch no-ops);
          - the branch then evolves independently — merge / delete / compact
            / schema evolution / rebucket all work, writing new files under
            the branch's own data dir.

        Publish back with ``parent.fast_forward(branch)``; audit-only
        branches are simply ``drop()``-ed. Workflow parity: Iceberg
        write-audit-publish on a branch + ``fast_forward_branch``."""
        base = self._load_snapshot(
            None if at is None else self._resolve_ref(at)
        )
        if name is None:
            name = os.path.basename(os.path.normpath(dest_location))
        if LakeTable.exists(dest_location):
            raise ValueError(f"destination {dest_location!r} is already a table")
        # check-and-pin atomically: with the exists check outside the lock,
        # two concurrent forks of the same name would both pass and the
        # second create_tag would silently overwrite the first pin —
        # unpinning a live branch's base against expire_snapshots
        with _commit_lock(self.meta_dir):
            tags = self.tags()
            if f"__branch_{name}" in tags:
                raise ValueError(
                    f"branch name {name!r} is already pinned on this table — "
                    "publish or drop the live branch first. If a previous fork "
                    "crashed before materializing its table (the tag is written "
                    "first so the base can never be expired unpinned), clear it "
                    f"with drop_tag('__branch_{name}') and re-fork"
                )
            tags[f"__branch_{name}"] = base["snapshot_id"]
            self._write_tags(tags)
        b = LakeTable(self.spark, dest_location)
        os.makedirs(b.meta_dir, exist_ok=True)
        os.makedirs(b.data_dir, exist_ok=True)
        snap = self._remap_manifest_refs(base, self.data_dir, b.data_dir)
        snap.update(
            snapshot_id=0,
            parent=None,
            operation="branch",
            branch_of={
                "location": os.path.abspath(self.location),
                "base_snapshot": base["snapshot_id"],
                "name": name,
            },
            committed_at=time.time(),
        )
        b._write_snapshot(snap, expected_parent=None)
        return b

    def fast_forward(self, branch: "LakeTable") -> dict:
        """Publish a branch's commits onto this table as ONE linear commit —
        the Iceberg ``fast_forward`` analogue, and step 3 of branch-scoped
        write-audit-publish.

        Precondition (exactly Iceberg's): this table's head must still be
        the branch's fork base. Any commit here since the fork raises
        ConcurrentCommitError and nothing changes — rebase by forking a new
        branch and re-applying (the epoch ledger makes that replay
        idempotent).

        Mechanics and guarantees:
          - branch-local data files are hardlinked (copy fallback) into this
            table's data dir — O(branch's net new files), never O(table); on
            an object store this is the one physical copy a cross-table
            publish costs. Inherited ``../`` references are rewritten back
            to plain parent-relative paths. The branch's files stay intact,
            so the branch remains readable history after publish;
          - linked files are STAGED under directories numbered with this
            table's NEXT snapshot id (``[sd]{new_sid}-<hash>``), never under
            the branch's own (smaller) snapshot ids. This honors the
            ``expire_snapshots`` lock-free concurrent-writer contract — an
            expire running during the link phase only considers directories
            numbered <= the sid it read at entry, so in-flight published
            files are never deletion candidates;
          - the commit itself rides ``_write_snapshot``'s CAS: a racing
            writer (or a second branch's fast_forward) loses cleanly, and
            the loser's linked files are removed on the spot (a crash in
            the gap leaves orphans that ``expire_snapshots`` sweeps once
            the table commits at or past the staged sid);
          - the branch's epoch ledger, schema map, and bucket count are
            adopted wholesale — valid because the precondition proves this
            table did not move since the fork, so the branch state is a
            strict descendant;
          - the change-data-feed across the fast-forward commit emits
            exactly the branch's delta layers (``changes_between`` diffs
            layer counts and the parent's are unchanged since the fork) —
            UNLESS the branch compacted, which folds layers; same re-sync
            caveat as ``rollback_to``;
          - after publish the branch is RETIRED (``_meta/retired.json``):
            further branch commits raise, reads keep working until parent
            expiry reclaims shared files, and the pin tag is dropped.

        On a table with engine-registered derived tables or aggregate views,
        use ``Engine.publish`` instead — it runs this publish AND maintains
        the lineage per published epoch (a bare fast_forward leaves deriveds
        silently stale, the same gap ``delete_where`` documents).
        """
        cur = self.current_snapshot()
        bsnap = branch.current_snapshot()
        bo = bsnap.get("branch_of")
        try:
            is_parent = bool(bo) and os.path.samefile(bo["location"], self.location)
        except FileNotFoundError:
            # the recorded parent path no longer exists (parent moved/renamed
            # since the fork) — not-a-branch, not an uncaught OSError
            is_parent = False
        if not is_parent:
            raise ValueError("fast_forward target is not a branch of this table")
        if bo["base_snapshot"] != cur["snapshot_id"]:
            # crash-resume self-heal: the publish commit may have LANDED but
            # the process died before the retire-marker write — walk back to
            # the fork base looking for this branch's own fast-forward
            # commit (only the FF commit carries fast_forward_of; descendants
            # strip it), and if found finish the bookkeeping instead of
            # refusing. A genuinely-moved parent still raises below.
            try:
                s = cur
                while s["snapshot_id"] > bo["base_snapshot"]:
                    ffo = s.get("fast_forward_of")
                    if (
                        ffo
                        and ffo["branch"] == os.path.abspath(branch.location)
                        and ffo["branch_head"] == bsnap["snapshot_id"]
                    ):
                        branch._retire(self.location, s["snapshot_id"])
                        self.drop_tag(f"__branch_{bo['name']}")
                        return {
                            "fast_forwarded": False,
                            "already_published": True,
                            "snapshot_id": s["snapshot_id"],
                        }
                    if s["parent"] is None:
                        break
                    s = self._load_snapshot(s["parent"])
            except (FileNotFoundError, ValueError):
                # _load_snapshot raises ValueError past the retention
                # horizon: the walk can't prove a prior publish, treat as
                # genuinely moved
                pass
            raise ConcurrentCommitError(
                f"cannot fast-forward: table moved to snapshot "
                f"{cur['snapshot_id']} since the branch forked at "
                f"{bo['base_snapshot']} — fork a new branch and re-apply"
            )
        if bsnap["snapshot_id"] == 0:
            return {"fast_forwarded": False, "snapshot_id": cur["snapshot_id"]}

        new_sid = cur["snapshot_id"] + 1
        my_data = os.path.abspath(self.data_dir)
        br_data = os.path.abspath(branch.data_dir)

        def _is_branch_local(rel: str) -> bool:
            src = os.path.normpath(os.path.join(br_data, rel))
            return os.path.commonpath([src, br_data]) == br_data

        # branch-local refs are published under this table's NEXT snapshot
        # id's directory namespace (the sweep's staging contract: in-flight
        # files must live under roots numbered > the sweeper's entry sid);
        # inherited refs resolve from this table's data dir. Each branch
        # root gets a fresh root name per ATTEMPT: two concurrent publishes
        # of the same branch must never share staged paths — with shared
        # names, racer B skips files racer A already linked, and the CAS
        # loser's cleanup would then delete files the winner's committed
        # manifest references
        staged_roots: dict[str, str] = {}

        def _staged_dir(head: str) -> str:
            if head not in staged_roots:
                kind = (self._parse_root(head) or ("d",))[0]
                staged_roots[head] = self._staging_rel(kind, new_sid)
            return staged_roots[head]

        def _pub_rel(rel: str) -> str:
            if not _is_branch_local(rel):
                src = os.path.normpath(os.path.join(br_data, rel))
                return os.path.relpath(src, my_data)
            head, _, tail = os.path.normpath(rel).partition(os.sep)
            if not tail:
                head, tail = "__root__", head
            return os.path.join(_staged_dir(head), tail)

        linked: list[str] = []
        try:
            snap = json.loads(json.dumps(bsnap))

            def _publish(rel: str) -> str:
                out = _pub_rel(rel)
                if _is_branch_local(rel):
                    src = os.path.normpath(os.path.join(br_data, rel))
                    dst = os.path.join(my_data, out)
                    if not os.path.exists(dst):
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        try:
                            os.link(src, dst)
                        except OSError:
                            shutil.copy2(src, dst)
                        linked.append(dst)
                return out

            for entry in snap["buckets"].values():
                entry["files"] = [_publish(p) for p in entry["files"]]
                if "stats" in entry:
                    entry["stats"] = {
                        _pub_rel(p): s for p, s in entry["stats"].items()
                    }
            for d in snap.get("deltas", []):
                d["files"] = {
                    b: [_publish(p) for p in fs] for b, fs in d["files"].items()
                }
                if "stats" in d:
                    d["stats"] = {_pub_rel(p): s for p, s in d["stats"].items()}
            # the copied head carries the PUBLISHED branch's identity; this
            # table keeps its own (it may itself be a branch of a parent —
            # dropping branch_of here would orphan it from its own lineage)
            snap.pop("branch_of", None)
            if cur.get("branch_of"):
                snap["branch_of"] = cur["branch_of"]
            snap.update(
                snapshot_id=new_sid,
                parent=cur["snapshot_id"],
                operation="fast_forward",
                fast_forward_of={
                    "branch": os.path.abspath(branch.location),
                    "name": bo["name"],
                    "base_snapshot": bo["base_snapshot"],
                    "branch_head": bsnap["snapshot_id"],
                },
                committed_at=time.time(),
            )
            # one critical section under the BRANCH's commit lock: re-check
            # the branch head, commit the parent, retire the branch. Without
            # it a branch merge landing between our bsnap read and the
            # parent commit would be silently excluded from the publish and
            # then locked out by the retire marker (its epoch on the branch
            # but never on the parent). A racing merge either commits first
            # (we see the moved head and refuse, nothing changed) or blocks
            # until the retire marker exists and fails its retired check.
            # In-process only — cross-process branch writers racing a
            # publish are the operator's contract to avoid.
            with _commit_lock(branch.meta_dir):
                if branch.current_snapshot()["snapshot_id"] != bsnap["snapshot_id"]:
                    raise ConcurrentCommitError(
                        "branch advanced during fast_forward — retry to "
                        "publish its new head"
                    )
                self._write_snapshot(snap, expected_parent=cur["snapshot_id"])
                branch._retire(self.location, new_sid)
        except BaseException:
            for p in linked:  # loser/crash cleanup; leftovers are expiry-swept
                try:
                    os.remove(p)
                except OSError:
                    pass
            raise
        self.drop_tag(f"__branch_{bo['name']}")
        return {
            "fast_forwarded": True,
            "snapshot_id": new_sid,
            "branch_head": bsnap["snapshot_id"],
            "files_published": len(linked),
        }

    # ------------------------------------------------ write-audit-publish
    def _load_staged(self, token: str) -> dict[str, Any]:
        path = self._staged_path(token)
        if not os.path.exists(path):
            raise ValueError(f"no staged snapshot {token!r}")
        with open(path) as f:
            return json.load(f)

    def publish_staged(self, token: str) -> dict:
        """Write-audit-publish, step 3: atomically make a staged merge the
        current table state. CAS against the staged snapshot's parent — if
        any other commit landed since the stage, this raises
        ConcurrentCommitError and the table is untouched (re-stage from the
        new current instead)."""
        snap = self._load_staged(token)
        self._write_snapshot(snap, expected_parent=snap["parent"])
        os.remove(self._staged_path(token))
        return {"published": True, "snapshot_id": snap["snapshot_id"]}

    def discard_staged(self, token: str) -> None:
        """Drop a staged snapshot that failed its audit AND reclaim its data
        roots immediately. The staged write landed under per-attempt
        ``s<sid>-<uuid>`` roots private to this token, and the sweep only
        reaches roots with sid <= the current snapshot id — so on a table
        with no further commits an orphaned stage would otherwise never be
        reclaimed. Roots still referenced by any other manifest on disk
        (``_manifests``) are left alone."""
        snap = self._load_staged(token)

        def roots(s: dict) -> set[str]:
            return {f.split("/", 1)[0] for f in self._referenced_files(s)}

        path = self._staged_path(token)
        # under the commit lock: an in-process committer mid-_write_snapshot
        # must not be observed half-written
        with _commit_lock(self.meta_dir):
            live = set().union(*map(roots, self._manifests(skip=(path,))))
            for root in roots(snap) - live:
                shutil.rmtree(os.path.join(self.data_dir, root), ignore_errors=True)
            os.remove(path)

    def schema_fields(self, snap: dict | None = None) -> list[dict]:
        snap = snap or self.current_snapshot()
        return snap["schemas"][str(snap["schema_version"])]

    def require_columns(self, cols, op: str) -> None:
        """Raise ``ValueError`` naming the ``cols`` the current schema
        lacks. A merge keeps only schema columns, so a write that sets an
        unknown (say, misspelt) column would otherwise drop it silently."""
        unknown = sorted(set(cols) - {f["name"] for f in self.schema_fields()})
        if unknown:
            raise ValueError(f"{op}: no column(s) {unknown} in the schema of {self.location}")

    def committed_epochs(self, snap: dict | None = None) -> dict[str, dict]:
        snap = snap or self.current_snapshot()
        return snap["properties"]["epochs"]

    # ------------------------------------------------------------ read
    def _empty_df(self, fields: list[dict]) -> DataFrame:
        st = T.StructType([T.StructField(f["name"], _spark_type(f["type"])) for f in fields])
        # an empty Arrow table gives a LocalRelation; an empty list would
        # give a LogicalRDD, and every action over it runs an extra job
        return self.spark.createDataFrame(to_arrow_schema(st).empty_table(), st)

    def _read_files(
        self, files: list[str], file_sv: int, snap: dict, with_op: bool = False
    ) -> DataFrame:
        """Read data files written at schema version ``file_sv``, projected to
        the current schema: align columns by field ID (rename-safe), cast
        widened types, fill added columns with their initial default.
        ``with_op`` also passes through the ``__op`` column of delta files.

        The read schema comes from the manifest, as Delta takes it from its
        log: ``file_sv``'s fields plus ``__op string``. Planning therefore
        opens no file and runs no schema-inference job; the physical types
        match because ``_bucketed_writer`` casts to the manifest types."""
        cur = self.schema_fields(snap)
        old = {f["id"]: f for f in snap["schemas"][str(file_sv)]}
        read = [T.StructField(o["name"], _spark_type(o["type"])) for o in old.values()]
        if with_op:
            read.append(T.StructField("__op", T.StringType()))
        df = self.spark.read.schema(T.StructType(read)).parquet(
            *[os.path.join(self.data_dir, p) for p in files]
        )
        if file_sv == snap["schema_version"]:
            return df  # the projection below would be the identity
        cols = []
        for f in cur:
            o = old.get(f["id"])
            if o is None:
                # file predates the field: Iceberg initial-default (NULL
                # when the column was added without one)
                cols.append(
                    F.lit(f.get("initial_default"))
                    .cast(_spark_type(f["type"]))
                    .alias(f["name"])
                )
            else:
                cols.append(F.col(o["name"]).cast(_spark_type(f["type"])).alias(f["name"]))
        if with_op:
            cols.append(F.col("__op"))
        return df.select(*cols)

    @staticmethod
    def _prune(files: list[str], stats: dict, where) -> list[str]:
        """Drop files whose manifest min/max stats prove they cannot contain a
        row matching every predicate. A file with no stats for a predicate's
        column — or a type-incompatible comparison — is always kept (pruning
        is an optimization, never a filter). ``in`` keeps a file when ANY of
        the listed values fits its [min, max] box (the point-lookup shape)."""
        if not where:
            return files
        kept = []
        for p in files:
            fs = stats.get(p) if stats else None
            keep = True
            for col, op, val in where:
                rng = (fs or {}).get(col)
                if not rng:
                    continue
                lo, hi = rng
                if lo is None or hi is None:
                    continue
                try:
                    if (
                        (op == "=" and not (lo <= val <= hi))
                        or (op == "in" and not any(lo <= v <= hi for v in val))
                        or (op in (">", ">=") and hi < val)
                        or (op == ">" and hi == val)
                        or (op in ("<", "<=") and lo > val)
                        or (op == "<" and lo == val)
                    ):
                        keep = False
                        break
                except TypeError:
                    continue
            if keep:
                kept.append(p)
        return kept

    def _collect_stats(self, rel_paths: list[str], snap: dict) -> dict:
        """Per-file min/max column stats for the snapshot manifest — the
        Iceberg ``lower_bounds``/``upper_bounds`` analogue that drives
        manifest-level data skipping. Read from parquet footers (metadata-only,
        no data pages); on a real cluster the write tasks would return these
        alongside the commit, here the driver reads the footers of the files
        it just wrote. Stats columns: key columns + order column, primitive
        comparable types only. Parquet writers may truncate long binary
        bounds conservatively (max rounded up), which keeps pruning sound."""
        import pyarrow.parquet as pq

        cols = list(snap["key_cols"])
        if snap.get("order_col"):
            cols.append(snap["order_col"])
        out: dict[str, dict] = {}
        for rel in rel_paths:
            try:
                md = pq.ParquetFile(os.path.join(self.data_dir, rel)).metadata
            except Exception:
                continue
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            st = {}
            for c in cols:
                i = names.get(c)
                if i is None:
                    continue
                lo = hi = None
                ok = True
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(i).statistics
                    if s is None or not s.has_min_max:
                        ok = False
                        break
                    mn, mx = s.min, s.max
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                        except UnicodeDecodeError:
                            ok = False
                            break
                    if not isinstance(mn, (str, int, float)) or isinstance(mn, bool):
                        ok = False
                        break
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
                if ok and lo is not None:
                    st[c] = [lo, hi]
            # per-file row count (Iceberg record_count): powers
            # metadata-only COUNT(*) — "#" cannot appear in a column name
            # produced by this engine, so the key never collides
            st["#rows"] = md.num_rows
            out[rel] = st
        return out

    def count_rows(
        self, where: list[tuple] | None = None, as_of: int | str | None = None
    ) -> tuple[int, bool]:
        """``COUNT(*)`` answered from manifest metadata when provably exact
        (Iceberg ``record_count`` semantics): no data file is opened when
        the snapshot has no delta layers (after a full compaction, physical
        rows ARE logical rows) and no predicate.
        Any other shape falls back to the exact read path. Returns
        ``(count, metadata_only)`` so callers and tests can SEE which path
        answered. At 100 TB the metadata path is a manifest walk — zero
        tasks, zero bytes of data read."""
        snap = self._load_snapshot(
            self._resolve_ref(as_of) if as_of is not None else None
        )
        if where is None and not snap.get("deltas"):
            total = 0
            complete = True
            for entry in snap["buckets"].values():
                stats = entry.get("stats") or {}
                for rel in entry["files"]:
                    n = (stats.get(rel) or {}).get("#rows")
                    if n is None:  # pre-upgrade manifest: no counts recorded
                        complete = False
                        break
                    total += n
                if not complete:
                    break
            if complete:
                return total, True
        return self.snapshot(as_of=as_of, where=where).count(), False

    @staticmethod
    def _where_expr(where):
        ops = {
            "=": lambda c, v: c == v,
            ">": lambda c, v: c > v,
            ">=": lambda c, v: c >= v,
            "<": lambda c, v: c < v,
            "<=": lambda c, v: c <= v,
            # isin pushes to the scan as an In filter — the predicate shape
            # that engages parquet row-group bloom filters on key columns
            "in": lambda c, v: c.isin(*v),
        }
        e = None
        for col, op, val in where:
            # "in" takes the raw value list (isin lits each element itself)
            term = ops[op](F.col(col), val if op == "in" else F.lit(val))
            e = term if e is None else (e & term)
        return e

    def _layer_files(
        self, snap: dict, buckets: list[int] | None = None, where=None
    ) -> list[tuple[int, int, list[str]]]:
        """The files a read of ``snap`` opens, as ``(seq, schema_version,
        files)``: the base files grouped by schema version at ``seq = -1``,
        then one entry per delta layer at its layer index. Metadata only:
        files outside ``buckets`` or whose manifest stats rule out ``where``
        (``_prune``) are left out, and so are layers left empty."""
        keep = None if buckets is None else set(buckets)
        base: dict[int, list[str]] = {}
        for b, entry in snap["buckets"].items():
            if keep is None or int(b) in keep:
                files = self._prune(entry["files"], entry.get("stats"), where)
                if files:
                    base.setdefault(entry["schema_version"], []).extend(files)
        layers = [(-1, sv, fs) for sv, fs in base.items()]
        for seq, d in enumerate(snap.get("deltas", [])):
            files = [
                p
                for b, fs in d["files"].items()
                if keep is None or int(b) in keep
                for p in self._prune(fs, d.get("stats"), where)
            ]
            if files:
                layers.append((seq, d["schema_version"], files))
        return layers

    def _read_layers(
        self, snap: dict, layers: list[tuple[int, int, list[str]]], tagged: bool
    ) -> DataFrame | None:
        """One frame over ``_layer_files`` entries, projected to the current
        schema (``None`` when there is nothing to read), so an untagged read
        never selects the physical ``__op`` column of delta files. ``tagged``
        adds what the latest-resolve orders by: ``__op`` (``'U'`` for base
        rows, which carry no tombstones) and ``__seq`` (the layer index)."""
        parts = []
        for seq, sv, files in layers:
            df = self._read_files(files, sv, snap, with_op=tagged and seq >= 0)
            if tagged:
                if seq < 0:
                    df = df.withColumn("__op", F.lit("U"))
                df = df.withColumn("__seq", F.lit(seq))
            parts.append(df)
        return _union(parts) if parts else None

    def _resolve(self, df: DataFrame, snap: dict, with_tombstones: bool) -> DataFrame:
        """Resolve MoR layers to one row per key. ``resolve='sum'``: one hash
        agg sums every layer (``df`` untagged). Otherwise one window over the
        key ordered by (order_col desc, ``__seq`` desc) keeps the newest row
        (``df`` tagged) — the latest-flag plan of the A1 operator. Tombstones
        are dropped unless ``with_tombstones``, which keeps ``__op``."""
        fields = self.schema_fields(snap)
        names = [f["name"] for f in fields]
        keys = snap["key_cols"]
        if snap.get("resolve", "latest") == "sum":
            # cast back to the declared types (Spark widens sum(int) to bigint)
            aggs = [
                F.sum(f["name"]).cast(_spark_type(f["type"])).alias(f["name"])
                for f in fields
                if f["name"] not in keys
            ]
            out = df.groupBy(*keys).agg(*aggs).select(*names)
            # additive layers carry no tombstones
            return out.withColumn("__op", F.lit("U")) if with_tombstones else out
        w = Window.partitionBy(*keys).orderBy(
            F.col(snap["order_col"]).desc_nulls_last(), F.col("__seq").desc()
        )
        winner = df.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") == 1
        )
        if with_tombstones:
            return winner.select(*names, "__op")
        return winner.filter(F.col("__op") == "U").select(*names)

    def snapshot(
        self,
        buckets: list[int] | None = None,
        as_of: int | None = None,
        where: list[tuple] | None = None,
        staged: str | None = None,
        keys_in: DataFrame | None = None,
        with_tombstones: bool = False,
    ) -> DataFrame:
        """Table state as a DataFrame (optionally selected buckets).

        ``keys_in``: a DataFrame of key columns — restrict the read to those
        keys with a semi join applied BEFORE the MoR resolve, so the
        latest/sum window only processes the requested keys' rows instead of
        every key in the touched buckets. A frame carrying only a PREFIX of
        the key columns restricts on that subset (all of a key's layers are
        still kept or dropped together, so resolution commutes) — the
        version-history maintenance uses this to read every version of a
        changed (repo, path) from a table keyed by (repo, path, lsn). Resolution commutes with key-set
        filtering (a key's layers are all kept or all dropped), so this is
        semantically identical to post-filtering and is the point-lookup
        fast path the engine's aggregate views use for pre-epoch state.

        One read path: ``_layer_files`` plans the files from the manifest,
        ``_read_layers`` reads them as one frame, and — when delta layers
        exist — ``_resolve`` keeps one row per key: the A1 operator's
        latest-flag plan (window over key, order_col desc then layer index
        desc, keep first, drop tombstones), or a per-key sum for 'sum'.

        ``as_of``: read a PAST committed snapshot by id (Iceberg
        ``VERSION AS OF`` time travel). Requires the snapshot metadata and
        data files to still be within the ``expire_snapshots`` retention
        window.

        ``where``: list of ``(column, op, value)`` predicates, op in
        ``= > >= < <=``. The predicate is always applied as a DataFrame
        filter (correctness never depends on stats); additionally, data
        files whose manifest min/max stats cannot satisfy it are skipped
        without being opened (Iceberg manifest-level data skipping). Over
        delta layers file skipping is only sound for predicates on key
        columns (constant per key — pruning a non-key column could hide a
        key's latest version and resurrect an older one), so non-key
        predicates prune nothing there and are applied after resolution.

        ``staged``: read a write-audit-publish staged snapshot by its token
        (the audit step) instead of a committed one.

        ``with_tombstones``: keep each key's winning row even when it is a
        delete tombstone, exposing ``__op`` ('U'/'D') — the complete per-key
        pre-state the SCD2 history maintenance needs to classify late
        events (a resolved read cannot distinguish never-seen from deleted).
        Only meaningful for latest-resolution; folded bases carry no
        tombstones, so their rows come back ``__op = 'U'``. NB:
        ``compact()`` drops tombstones (its lsn-monotone contract);
        ``consolidate_deltas`` retains them, which is why out-of-order
        feeds must use the consolidation cadence.

        ``as_of`` also accepts a TAG name (``create_tag``) in place of a
        snapshot id.
        """
        if staged:
            snap = self._load_staged(staged)
        else:
            snap = self._load_snapshot(
                self._resolve_ref(as_of) if as_of is not None else None
            )
        keys = snap["key_cols"]
        resolve = bool(snap.get("deltas"))
        additive = snap.get("resolve", "latest") == "sum"
        # stats-based file skipping: sound for any predicate on a folded base
        # (rows are independent), key-column predicates only over delta
        # layers (a key's state is split across layers — pruning a layer by
        # a value predicate would drop part of a latest-resolution or of a sum)
        prune_where = where
        if (resolve or additive) and where:
            prune_where = [w for w in where if w[0] in keys]
        layers = self._layer_files(snap, buckets, prune_where)
        out = self._read_layers(snap, layers, tagged=resolve and not additive)
        if out is None:  # nothing to read, so nothing to resolve
            out, resolve = self._empty_df(self.schema_fields(snap)), False
        if keys_in is not None:
            # subset restriction: join on the key columns the frame carries
            kcols = [k for k in keys if k in keys_in.columns]
            if not kcols:
                raise ValueError(
                    f"keys_in shares no columns with key_cols {keys}"
                )
            # a LEFT SEMI join emits each left row at most once, so
            # duplicate keys need no distinct (which would cost a job).
            # It runs before the resolve: only requested keys are resolved
            out = out.join(keys_in.select(*kcols), kcols, "left_semi")
        if resolve:
            out = self._resolve(out, snap, with_tombstones)
        elif with_tombstones:
            # same column contract whatever the compaction state: with no
            # delta layers, an additive base is already folded by compact
            # (one row per key) and no base carries tombstones
            out = out.withColumn("__op", F.lit("U"))
        return out.filter(self._where_expr(where)) if where else out

    def lookup(
        self,
        keys: list[tuple],
        as_of: int | str | None = None,
        with_stats: bool = False,
    ):
        """Point lookup: the resolved current row (if any) for each requested
        key tuple — the processing-status-by-id serving path (the reference
        serves per-record status queries from its Cosmos containers,
        pg-api/svc queries by upload/message id; SURVEY.md A4/K5).

        Three pruning levers compose, so cost is independent of table size:
        1. bucket pruning — each key hashes to exactly one bucket, so only
           those buckets' files are considered (metadata-only);
        2. manifest min/max box pruning — after ``compact(sort_cols=keys)``
           the base files hold disjoint key ranges inside each bucket, and a
           file whose [min, max] box fits NO requested key is never opened
           (``in`` predicate in ``_prune``);
        3. parquet row-group bloom filters — every write enables blooms on
           the key columns (``_bucketed_writer``), and the pushed In filters
           below let the scan drop row groups min/max cannot (hash-bucketed
           DELTA files span the whole key range, so blooms are the only
           per-file lever for the un-compacted tail).
        The per-key read amplification is therefore: O(files_per_bucket
        box-surviving base files) + the delta layers since the last
        compaction — bounded by the compaction cadence, not by table size.

        Job budget: building the frame runs no Spark job (the read schema
        comes from the manifest, so there is no inference job, and the key
        frame is local, so no Python worker starts); collecting it runs only
        the scan and the resolve.

        Returns the resolved rows (latest per key, tombstones dropped); with
        ``with_stats=True`` returns ``(df, stats)`` where stats reports the
        manifest-level file pruning so tests and operators can SEE the skip:
        ``files_read`` counts the files ``_layer_files`` plans for the read,
        the same list ``snapshot()`` hands to ``_read_layers``.
        """
        snap = self._load_snapshot(
            self._resolve_ref(as_of) if as_of is not None else None
        )
        key_cols = snap["key_cols"]
        types = {f["name"]: f["type"] for f in self.schema_fields(snap)}
        kschema = T.StructType(
            [T.StructField(c, _spark_type(types[c])) for c in key_cols]
        )
        import pyarrow as pa

        # an Arrow table gives a LocalRelation: the bucket-id collect folds
        # into it and runs on the driver, and no Python worker starts (a
        # list of tuples would give a LogicalRDD and two jobs)
        kdf = self.spark.createDataFrame(
            pa.table({c: [k[i] for k in keys] for i, c in enumerate(key_cols)}),
            kschema,
        )
        brows = kdf.select(self._bucket_expr(snap).alias("__b")).collect()
        buckets = sorted({r["__b"] for r in brows})
        where = [
            (c, "in", sorted({k[i] for k in keys}))
            for i, c in enumerate(key_cols)
        ]
        out = self.snapshot(
            buckets=buckets, as_of=as_of, where=where, keys_in=kdf
        )
        if not with_stats:
            return out

        def n_files(layers):
            return sum(len(files) for _, _, files in layers)

        # where holds key columns only, so the read above pruned by it too
        return out, {
            "buckets_read": len(buckets),
            "buckets_total": snap["n_buckets"],
            "files_in_buckets": n_files(self._layer_files(snap, buckets)),
            "files_read": n_files(self._layer_files(snap, buckets, where)),
        }

    def changes_between(self, from_sid: int, to_sid: int | None = None) -> DataFrame:
        """Change data feed: every change row committed AFTER snapshot
        ``from_sid`` up to and including ``to_sid`` (default current), with
        ``_change_type`` (``U`` upsert / ``D`` delete) and
        ``_commit_snapshot`` columns — the Iceberg incremental-read /
        ``table_changes`` analogue, read straight from the delta layers with
        no diffing. Walks the snapshot chain, so every snapshot in the window
        must still be within the retention window (expired → raises, same as
        Iceberg). Rows are exactly the deduped per-epoch changes the engine
        applied, in commit order; downstream incremental consumers re-apply
        them keyed by (key_cols, order_col)."""
        to_snap = self._load_snapshot(to_sid)
        self._require_order_col(to_snap, "read the change feed of")
        chain = []
        s = to_snap
        # snapshot ids are dense (every CAS commit is parent+1), so the walk
        # terminates at from_sid exactly; _load_snapshot raises if any link
        # in the window has been expired — Iceberg's incremental-read contract
        while s["snapshot_id"] > from_sid:
            chain.append(s)
            if s["parent"] is None:
                break
            s = self._load_snapshot(s["parent"])
        parts = []
        for s in reversed(chain):
            parent_layers = 0
            if s["parent"] is not None:
                parent_layers = len(self._load_snapshot(s["parent"]).get("deltas", []))
            new_layers = s.get("deltas", [])[parent_layers:]
            for d in new_layers:
                files = [p for fs in d["files"].values() for p in fs]
                if not files:
                    continue
                parts.append(
                    self._read_files(files, d["schema_version"], to_snap, with_op=True)
                    .withColumnRenamed("__op", "_change_type")
                    .withColumn("_commit_snapshot", F.lit(s["snapshot_id"]))
                )
        if not parts:
            return (
                self._empty_df(self.schema_fields(to_snap))
                .withColumn("_change_type", F.lit("U"))
                .withColumn("_commit_snapshot", F.lit(0))
                .limit(0)
            )
        return _union(parts)

    def changes_with_preimages(
        self, from_sid: int, to_sid: int | None = None
    ) -> DataFrame:
        """Delta ``readChangeFeed``-style CDF with pre-images: for every
        commit in (``from_sid``, ``to_sid``], classify each change row as

          - ``insert``            (postimage; key absent before the commit)
          - ``update_preimage``   (the replaced values)
          - ``update_postimage``  (the new values)
          - ``delete``            (preimage; tombstone on a live key)

        A tombstone for a key that was not live is dropped (no observable
        change — same as Delta). This is the retraction-stream surface a
        downstream aggregate consumer needs (emit -pre +post instead of
        recomputing), produced straight from storage.

        Scale shape: per commit, one O(changes-in-commit) read of the
        pre-state — ``snapshot(as_of=parent, keys_in=changed keys)`` pushes
        the changed-key semi join below the MoR resolve, so cost tracks the
        commit's change volume, never table size. The driver loop is
        O(commits in the window), the same shape every CDF poller
        (CdfTailReplicator) already has."""
        to_snap = self._load_snapshot(to_sid)
        self._require_order_col(to_snap, "read the change feed of")
        keys = to_snap["key_cols"]
        cols = [f["name"] for f in self.schema_fields(to_snap)]
        # commit ids in the window, oldest first (dense ids)
        sids = list(range(from_sid + 1, to_snap["snapshot_id"] + 1))
        parts = []
        for sid in sids:
            # metadata-only commits (properties/evolve/compact/rollback) add
            # no delta layer — skip without launching any job
            s = self._load_snapshot(sid)
            parent_layers = 0
            if s["parent"] is not None:
                parent_layers = len(self._load_snapshot(s["parent"]).get("deltas", []))
            if len(s.get("deltas", [])) <= parent_layers:
                continue
            chg = self.changes_between(sid - 1, sid)
            pre = (
                self.snapshot(
                    as_of=sid - 1,
                    keys_in=chg.select(*keys),
                    with_tombstones=True,
                )
                .filter(F.col("__op") == "U")
                .drop("__op")
            )
            pre_cols = {c: F.col(f"__pre_{c}") for c in cols if c not in keys}
            pre_renamed = pre.select(
                *keys, *[F.col(c).alias(f"__pre_{c}") for c in cols if c not in keys]
            ).withColumn("__had_pre", F.lit(True))
            j = chg.join(pre_renamed, on=keys, how="left").withColumn(
                "__had_pre", F.coalesce(F.col("__had_pre"), F.lit(False))
            )
            post_sel = [F.col(c) for c in cols]
            pre_sel = [
                (F.col(c) if c in keys else pre_cols[c].alias(c)) for c in cols
            ]
            tail = [F.col("_commit_snapshot")]
            inserts = (
                j.filter((F.col("_change_type") == "U") & ~F.col("__had_pre"))
                .select(*post_sel, F.lit("insert").alias("_change_type"), *tail)
            )
            upd_pre = (
                j.filter((F.col("_change_type") == "U") & F.col("__had_pre"))
                .select(
                    *pre_sel, F.lit("update_preimage").alias("_change_type"), *tail
                )
            )
            upd_post = (
                j.filter((F.col("_change_type") == "U") & F.col("__had_pre"))
                .select(
                    *post_sel, F.lit("update_postimage").alias("_change_type"), *tail
                )
            )
            deletes = (
                j.filter((F.col("_change_type") == "D") & F.col("__had_pre"))
                .select(*pre_sel, F.lit("delete").alias("_change_type"), *tail)
            )
            parts.append(
                inserts.unionByName(upd_pre).unionByName(upd_post).unionByName(deletes)
            )
        if not parts:
            return (
                self._empty_df(self.schema_fields(to_snap))
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_snapshot", F.lit(0))
                .limit(0)
            )
        return _union(parts)

    # ------------------------------------------------------------ merge
    def _bucket_expr(self, snap: dict):
        keys = [F.col(c) for c in snap["key_cols"]]
        return F.pmod(F.xxhash64(*keys), F.lit(snap["n_buckets"])).cast("int")

    def _bucketed_writer(self, df: DataFrame, snap: dict):
        """partitionBy(__bucket) parquet writer with key-column bloom filters
        enabled — every data/delta file carries per-row-group blooms so the
        ``lookup`` point-read path can prune row groups that min/max stats
        cannot (hash-bucketed files span the whole key range).

        Columns of the current schema are cast to their manifest types:
        ``_read_files`` reads every file with its schema version's manifest
        schema, so a file's physical types must be the declared ones. Only
        the columns whose type differs are cast; a frame that already has
        the manifest types is written as it is."""
        types = {f["name"]: _spark_type(f["type"]) for f in self.schema_fields(snap)}
        recast = {
            f.name: F.col(f.name).cast(types[f.name])
            for f in df.schema.fields
            if f.name in types and types[f.name] != f.dataType
        }
        if recast:
            df = df.withColumns(recast)
        w = df.write
        for c in snap["key_cols"]:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            w = w.option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(_BLOOM_EXPECTED_NDV)
            )
        return w.partitionBy("__bucket").mode("overwrite")

    def _written_files(self, out_rel: str) -> dict[str, list[str]]:
        """Index a bucketed write under ``out_rel``: {bucket: [parquet paths
        relative to the data dir]}, one entry per ``__bucket=N`` directory.
        A bucket whose rows all vanished has no directory, hence no entry."""
        out_abs = os.path.join(self.data_dir, out_rel)
        files: dict[str, list[str]] = {}
        for d in os.listdir(out_abs):
            if not d.startswith("__bucket="):
                continue
            files[d.split("=")[1]] = [
                os.path.join(out_rel, d, f)
                for f in os.listdir(os.path.join(out_abs, d))
                if f.endswith(".parquet")
            ]
        return files

    def _base_entries(self, files: dict[str, list[str]], snap: dict) -> dict[str, dict]:
        """Base-bucket manifest entries for freshly written files, stamped
        with the snapshot's schema version and per-file footer stats."""
        return {
            b: {
                "files": fs,
                "schema_version": snap["schema_version"],
                "stats": self._collect_stats(fs, snap),
            }
            for b, fs in files.items()
        }

    def _delta_layer(self, files: dict[str, list[str]], snap: dict) -> dict:
        """One delta-layer manifest entry for freshly written files."""
        return {
            "files": files,
            "schema_version": snap["schema_version"],
            "stats": self._collect_stats([p for fs in files.values() for p in fs], snap),
        }

    @staticmethod
    def _dirty_buckets(deltas: list[dict], max_delta_depth: int) -> list[int]:
        """Buckets stacked in more than ``max_delta_depth`` delta layers —
        the rewrite set of ``compact`` and ``consolidate_deltas``."""
        depth: dict[int, int] = {}
        for d in deltas:
            for b in d["files"]:
                depth[int(b)] = depth.get(int(b), 0) + 1
        return sorted(b for b, n in depth.items() if n > max_delta_depth)

    @staticmethod
    def _without_buckets(deltas: list[dict], dropped: set[int]) -> list[dict]:
        """Delta layers with the ``dropped`` buckets removed; layers left
        empty disappear. Clean buckets' delta entries survive untouched —
        INCLUDING their per-file stats (losing them would silently disable
        min/max pruning on every surviving delta file until that layer is
        itself rewritten)."""
        out = []
        for d in deltas:
            kept = {b: fs for b, fs in d["files"].items() if int(b) not in dropped}
            if kept:
                entry = {"files": kept, "schema_version": d["schema_version"]}
                kept_paths = {p for fs in kept.values() for p in fs}
                stats = {
                    p: s for p, s in (d.get("stats") or {}).items() if p in kept_paths
                }
                if stats:
                    entry["stats"] = stats
                out.append(entry)
        return out

    def _require_order_col(self, snap: dict, verb: str) -> None:
        """Refuse a latest-resolved table without ``order_col``: one created
        by an older version in copy-on-write mode. Its merges rewrote base
        files, so it cannot resolve delta layers and keeps no change feed."""
        if snap.get("resolve", "latest") == "latest" and not snap.get("order_col"):
            raise ValueError(
                f"cannot {verb} {self.location}: it was created in copy-on-write "
                "mode by an older version and has no order_col. Copy it into a "
                "new table: LakeTable.create(..., order_col=<version column>) "
                "and merge old.snapshot().withColumn('__op', F.lit('U')) into it"
            )

    def bucket_expr(self):
        """Public storage-bucket expression — upstream stages can pre-partition
        on it so the MERGE write needs no extra shuffle."""
        return self._bucket_expr(self.current_snapshot())

    def merge(
        self,
        changes: DataFrame,
        epoch: int | None = None,
        epoch_info: dict | None = None,
        publish: bool = True,
        enforce_constraints: bool = True,
    ) -> dict:
        """Keyed MERGE (upsert + delete) — the Iceberg ``MERGE INTO``
        analogue, and the engine's exactly-once apply step. It appends one
        bucketed delta layer that reads resolve per key (see ``create``);
        ``compact()`` folds the layers into base files.

        A table created by an older version in copy-on-write mode has no
        ``order_col`` and cannot resolve delta layers, so merging into it
        raises ``ValueError`` before any write; reads of it still work.

        ``enforce_constraints=False`` is for callers that already ran
        ``_enforce_check_constraints`` on this frame (``Engine.apply_epoch``
        pre-gates so derived tables see the SAME gated rows the main merge
        lands — gating inside merge alone would let a quarantined row leak
        into the derived fan-out).

        ``changes`` must have at most one row per key, a ``__op`` column with
        values ``U`` (upsert) or ``D`` (delete), and every current-schema
        column for upserts. If ``epoch`` is given and already committed the
        call is a NO-OP (idempotent replay, reference K3/K4 semantics).

        Returns {"applied": bool, "snapshot_id": int}, plus ``delta_files``
        when the layer holds files.

        ``publish=False`` runs the write-audit-publish pattern (Iceberg WAP):
        data files and the snapshot are written but ``current`` does not
        move; the result carries a ``staged`` token. Audit the staged state
        with ``snapshot(staged=token)``, then ``publish_staged(token)`` or
        ``discard_staged(token)``.
        """
        snap = self.current_snapshot()
        self._require_order_col(snap, "merge into")
        if epoch is not None and str(epoch) in snap["properties"]["epochs"]:
            return {"applied": False, "snapshot_id": snap["snapshot_id"]}

        # write-time CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT
        # ... CHECK` / DLT expectation analogue): violating upserts are
        # diverted to the per-epoch quarantine sidecar instead of merging,
        # so a bad producer cannot poison current state while the full
        # payload stays queryable + re-drivable. Tombstones (`D`) always
        # pass — a delete carries no payload to validate.
        cons = (
            snap["properties"].get("check_constraints") or {}
        ) if enforce_constraints else {}
        tagged_handle = None
        n_quarantined = 0
        if cons:
            changes, n_quarantined, tagged_handle = self._enforce_check_constraints(
                changes, cons, snap, epoch
            )
        try:
            result = self._merge_mor(changes, snap, epoch, epoch_info, publish)
            if cons:
                result["quarantined"] = n_quarantined
            return result
        finally:
            if tagged_handle is not None:
                tagged_handle.unpersist()

    def merge_into(
        self,
        source: DataFrame,
        *,
        when_matched: list[dict] | None = None,
        when_not_matched: list[dict] | None = None,
        when_not_matched_by_source: list[dict] | None = None,
        epoch: int | None = None,
        epoch_info: dict | None = None,
        publish: bool = True,
        compile_only: bool = False,
        target_as_of: int | None = None,
    ) -> dict:
        """Generalized multi-clause MERGE INTO — the Delta/Iceberg
        ``MERGE INTO target USING source ON <key equality>`` surface
        (conditional WHEN MATCHED UPDATE/DELETE, WHEN NOT MATCHED INSERT,
        WHEN NOT MATCHED BY SOURCE UPDATE/DELETE), compiled declaratively
        into one change frame and delegated to :meth:`merge` — so it
        inherits exactly-once epoch replay, CHECK-constraint quarantine,
        merge-on-read storage, write-audit-publish, and CDF visibility for free.
        Reference analogue: the Cosmos keyed-upsert sink's conditional
        apply semantics (K3) generalized to the full SQL MERGE clause set.

        The join condition is key equality on the table's ``key_cols``
        (this is a keyed table — an arbitrary ON would bypass the bucketed
        storage contract). Clauses are dicts, evaluated in list order with
        first-match-wins per row (Delta semantics); a row no clause claims
        is left untouched (matched / not-matched-by-source) or ignored
        (not-matched source row). ``condition`` is a SQL string over the
        aliases ``s`` (source) and ``t`` (target), e.g. ``"s.lsn > t.lsn"``:

        - ``when_matched``: ``{"condition": sql|None, "action":
          "update"|"delete", "set": {col: sql}}`` — unset columns keep the
          target value.
        - ``when_not_matched``: ``{"condition": sql|None, "values":
          {col: sql}|None}`` — ``None`` inserts source columns by name
          (missing target columns become NULL).
        - ``when_not_matched_by_source``: like ``when_matched`` but the
          condition may reference only ``t``.

        Updating a key column is refused (a key rewrite is a delete +
        insert, which MERGE cannot express atomically per row). A source
        with more than one row per key raises
        :class:`MergeCardinalityError` (Delta's "multiple source rows
        matched" error) — pre-aggregate with ``latest_by_key`` first.

        Scale shape: without NOT MATCHED BY SOURCE clauses the target side
        is read via ``snapshot(keys_in=source keys)`` — the changed-key
        semi join is pushed below the MoR resolve, so cost tracks the
        source delta, never table size. With them, a full target scan is
        inherent to the semantics (every target row must be classified).
        Everything else is one join plus narrow CASE projections; the
        cardinality check is a single aggregation over the source delta.

        ``compile_only=True`` returns the compiled change frame instead of
        merging (``Engine.merge_into`` uses this to route the SAME rows
        through the derived-table fan-out); ``target_as_of`` pins the
        target-side read to a past snapshot so a crash-resume recompiles
        the identical frame against the pre-epoch state.

        WARNING — table-level only: like ``delete_where``, a direct
        ``merge_into`` on a table with Engine-registered derived tables
        leaves them stale; use ``Engine.merge_into`` there (same epoch,
        whole lineage).
        """
        wm = list(when_matched or [])
        wnm = list(when_not_matched or [])
        wnmbs = list(when_not_matched_by_source or [])
        if not (wm or wnm or wnmbs):
            raise ValueError("merge_into requires at least one WHEN clause")
        self._reject_additive_row_ops("merge_into")
        snap = self.current_snapshot()
        colnames = {f["name"] for f in self.schema_fields(snap)}
        # validate clause dicts up front (Delta raises on all of these): a
        # misspelled action would silently turn a DELETE into a no-op
        # UPDATE, an unknown column in set/values would silently drop the
        # assignment, and an insert omitting key columns would write
        # NULL-key rows into a keyed table
        for c in wm + wnmbs:
            act = c.get("action")
            if act not in ("update", "delete"):
                raise ValueError(
                    f"merge_into clause action must be 'update' or 'delete', "
                    f"got {act!r}"
                )
            bad = sorted(set(c.get("set") or {}) - colnames)
            if bad:
                raise ValueError(f"merge_into SET references unknown columns {bad}")
        for c in wnm:
            if c.get("action") not in (None, "insert"):
                raise ValueError(
                    f"when_not_matched action must be 'insert', got {c['action']!r}"
                )
            vals = c.get("values")
            if vals is not None:
                bad = sorted(set(vals) - colnames)
                if bad:
                    raise ValueError(
                        f"merge_into INSERT values reference unknown columns {bad}"
                    )
                nokey = sorted(set(snap["key_cols"]) - set(vals))
                if nokey:
                    raise ValueError(
                        f"merge_into INSERT values must cover key columns "
                        f"(missing {nokey})"
                    )
        if (
            not compile_only
            and epoch is not None
            and str(epoch) in snap["properties"]["epochs"]
        ):
            return {"applied": False, "snapshot_id": snap["snapshot_id"]}
        keys = snap["key_cols"]
        fields = self.schema_fields(snap)
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"merge_into source lacks key columns {missing}")
        for c in wm + wnmbs:
            bad = sorted(set(c.get("set") or {}) & set(keys))
            if bad:
                raise ValueError(
                    f"merge_into cannot update key columns {bad}: express a "
                    "key rewrite as a DELETE clause plus an INSERT clause"
                )
        # Delta-parity cardinality rule — one agg over the source delta
        # (metadata-sized result; never scans the table)
        dup = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .take(1)
        )
        if dup:
            raise MergeCardinalityError(
                f"multiple source rows share key {dict(zip(keys, [dup[0][k] for k in keys]))}; "
                "pre-aggregate the source to one row per key (latest_by_key)"
            )
        s = source.withColumn("__s_exists", F.lit(True)).alias("s")
        if wnmbs:
            tgt = self.snapshot(as_of=target_as_of)
        else:
            # no NOT MATCHED BY SOURCE: only source keys matter — push the
            # changed-key semi join below the MoR resolve
            tgt = self.snapshot(as_of=target_as_of, keys_in=source.select(*keys))
        t = tgt.withColumn("__t_exists", F.lit(True)).alias("t")
        on = functools.reduce(
            lambda a, b: a & b,
            [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in keys],
        )
        j = s.join(t, on, "full_outer" if wnmbs else "left_outer")
        is_matched = F.col("s.__s_exists").isNotNull() & F.col(
            "t.__t_exists"
        ).isNotNull()
        groups = (
            [("m", is_matched, c) for c in wm]
            + [("i", F.col("t.__t_exists").isNull(), c) for c in wnm]
            + [("u", F.col("s.__s_exists").isNull(), c) for c in wnmbs]
        )
        # first-match-wins clause selector: one integer CASE chain
        sel = None
        for cid, (_, pred, c) in enumerate(groups):
            cond = pred
            if c.get("condition"):
                cond = cond & F.coalesce(
                    F.expr(c["condition"]).cast("boolean"), F.lit(False)
                )
            sel = (sel.when if sel is not None else F.when)(cond, F.lit(cid))
        j = j.withColumn("__clause", sel.otherwise(F.lit(-1))).filter(
            F.col("__clause") >= 0
        )
        del_ids = [
            cid
            for cid, (kind, _, c) in enumerate(groups)
            if kind in ("m", "u") and c.get("action") == "delete"
        ]
        op_col = (
            F.when(F.col("__clause").isin(del_ids), F.lit("D")).otherwise(F.lit("U"))
            if del_ids
            else F.lit("U")
        )

        def _value(fld: dict):
            name, typ = fld["name"], fld["type"]
            expr = None
            for cid, (kind, _, c) in enumerate(groups):
                if kind == "i":
                    vals = c.get("values")
                    if vals is not None:
                        v = (
                            F.expr(vals[name])
                            if name in vals
                            else F.lit(None)
                        )
                    else:
                        v = (
                            F.col(f"s.{name}")
                            if name in source.columns
                            else F.lit(None)
                        )
                else:
                    sets = c.get("set") or {}
                    if c.get("action") != "delete" and name in sets:
                        v = F.expr(sets[name])
                    else:
                        v = F.col(f"t.{name}")
                expr = (expr.when if expr is not None else F.when)(
                    F.col("__clause") == cid, v
                )
            return expr.otherwise(F.lit(None)).cast(_spark_type(typ)).alias(name)

        changes = j.select(
            *[_value(f) for f in fields], op_col.alias("__op")
        )
        if compile_only:
            return changes
        return self.merge(
            changes, epoch=epoch, epoch_info=epoch_info, publish=publish
        )

    def _enforce_check_constraints(
        self, changes: DataFrame, cons: dict, snap: dict, epoch
    ) -> tuple[DataFrame, int, DataFrame]:
        """Split ``changes`` into (passing, quarantined) under the table's
        CHECK constraints and persist the violating rows to the
        ``_quarantine/epoch=N`` sidecar (idempotent per-epoch overwrite, so
        an exactly-once replay of the epoch rewrites the identical rows).

        SQL-standard CHECK semantics: a row passes when the expression is
        TRUE **or NULL** (unknown); only a definitive FALSE quarantines.
        Returns (passing_frame, n_quarantined, persisted_handle) — the
        caller unpersists the handle after the merge consumes the passing
        side."""
        checks = [
            (name, F.expr(expr).cast("boolean")) for name, expr in sorted(cons.items())
        ]
        viol = F.array_compact(
            F.array(
                *[
                    F.when(~F.coalesce(chk, F.lit(True)), F.lit(name))
                    for name, chk in checks
                ]
            )
        )
        viol = F.when(
            F.col("__op") == F.lit("D"), F.array().cast("array<string>")
        ).otherwise(viol)
        tagged = changes.withColumn("__violated", viol).persist()
        bad = tagged.filter(F.size("__violated") > 0)
        qcols = [
            f["name"] for f in self.schema_fields(snap) if f["name"] in tagged.columns
        ] + ["__op", "__violated"]
        n_bad = bad.count()
        if n_bad:
            qkey = epoch if epoch is not None else -(snap["snapshot_id"] + 1)
            # rebalance, not coalesce: quarantined rows are usually a thin
            # slice, but the exchange keeps the (already-persisted) upstream
            # parallel, and AQE sizes it from the quarantined rows
            bad.select(*qcols).hint("rebalance").write.mode("overwrite").parquet(
                os.path.join(self.location, "_quarantine", f"epoch={qkey}")
            )
        good = tagged.filter(F.size("__violated") == 0).drop("__violated")
        return good, n_bad, tagged

    def _merge_mor(
        self, changes: DataFrame, snap: dict, epoch, epoch_info, publish: bool = True
    ) -> dict:
        """Merge-on-read apply: append the deduped changes (upserts AND delete
        tombstones) as bucketed delta files — O(changes) write cost per epoch.
        Read-side resolution happens in ``snapshot()``; ``compact()`` folds
        deltas back into base buckets."""
        cur_names = [f["name"] for f in self.schema_fields(snap)]
        out_rel = self._staging_rel("d", snap["snapshot_id"] + 1)
        # repartition on the bucket key first: without it every upstream task
        # writes a sliver into every bucket dir (tasks x buckets tiny files);
        # with it each bucket lands in exactly one task -> one file per
        # bucket. The exchange has no fixed count: AQE sizes it from the
        # epoch's bytes (one task for a small epoch), and hash partitioning
        # keeps a bucket whole in one task at any partition count. If the
        # caller pre-partitioned on __bucket (the engine's bucketed dedup
        # does), the write is shuffle-free.
        if "__bucket" in changes.columns:
            to_write = changes.select(*cur_names, "__op", "__bucket")
        else:
            to_write = (
                changes.withColumn("__bucket", self._bucket_expr(snap))
                .select(*cur_names, "__op", "__bucket")
                .repartition("__bucket")
            )
        self._bucketed_writer(to_write, snap).parquet(
            os.path.join(self.data_dir, out_rel)
        )
        files = self._written_files(out_rel)
        out = {"applied": publish}
        if not files:
            # still record the epoch (empty micro-batch must advance manifest)
            return {**out, **self._commit(snap, "merge", epoch, epoch_info, publish)}
        deltas = list(snap.get("deltas", [])) + [self._delta_layer(files, snap)]
        return {
            **out,
            "delta_files": sum(len(v) for v in files.values()),
            **self._commit(snap, "merge", epoch, epoch_info, publish, deltas=deltas),
        }

    def delete_where(
        self,
        predicate: str,
        epoch: int | None = None,
        epoch_info: dict | None = None,
    ) -> dict:
        """Row-level DELETE — the takedown/purge primitive (copyright or
        PII removal requests against a code corpus; Iceberg's
        ``DELETE FROM ... WHERE`` analogue, reference delete semantics as in
        the D-tombstone path of K3).

        Tombstones every CURRENT row matching the SQL ``predicate`` through
        the same exactly-once merge the CDC apply uses: idempotent under
        ``epoch`` replay, visible in the change-data-feed as ``D`` rows, and
        time travel still shows the pre-delete state. It writes
        O(matching keys) tombstone deltas — no bucket rewrite.

        COMPLIANCE NOTE: this is a LOGICAL delete. Physical removal of the
        bytes requires ``compact()`` (folds tombstones into rewritten
        buckets) followed by ``expire_snapshots()`` (drops the pre-delete
        snapshots and their data files); until then time travel can still
        read the purged rows — exactly Iceberg's posture.

        WARNING — table-level only: if this table has Engine-registered
        derived tables or aggregate views, their content-derived rows
        (content_sha256, MinHash signatures, per-repo sums) are NOT touched
        by this call and will outlive the purge. Use ``Engine.purge_where``
        (or ``Engine.redact_where``), which tombstones the lineage in the
        same epoch.

        Not available on additive (resolve='sum') tables: their read path
        sums every layer per key and never consults ``__op``, so a
        tombstone row would be ADDED to the sum instead of deleting it.
        Removal from an additive domain is a negative delta by contract
        (see ``create``) — merge rows carrying the negated current values.
        """
        self._reject_additive_row_ops("delete_where")
        rows = self.snapshot().filter(predicate)
        changes = rows.withColumn("__op", F.lit("D"))
        return self.merge(changes, epoch=epoch, epoch_info=epoch_info)

    def _reject_additive_row_ops(self, op: str) -> None:
        """delete_where/update_where write RESOLVED ABSOLUTE rows back as
        deltas; on an additive table the sum-resolution would add them to
        the existing partials (doubling values) rather than replacing —
        silently wrong data, so refuse loudly."""
        if self.current_snapshot().get("resolve", "latest") == "sum":
            raise ValueError(
                f"{op} is not supported on additive (resolve='sum') tables: "
                "reads sum all layers per key, so a resolved row written "
                "back would double the value instead of replacing it. "
                "Express removal/correction as a negative delta via merge()"
            )

    def update_where(
        self,
        predicate: str,
        set_exprs: dict[str, str],
        epoch: int | None = None,
        epoch_info: dict | None = None,
    ) -> dict:
        """Row-level UPDATE — in-place redaction (Iceberg's
        ``UPDATE ... SET ... WHERE`` analogue): rewrite ``set_exprs``
        (column -> SQL expression over the current row) on every CURRENT row
        matching ``predicate``, as upserts through the exactly-once merge.
        The natural companion to ``delete_where`` for takedown requests that
        redact rather than remove (e.g. scrub secrets from content while
        keeping the file row). Same compliance posture: logical until
        ``compact()`` + ``expire_snapshots()``. Like ``delete_where``,
        refused on additive tables (see its docstring). ``set_exprs`` naming
        a column the schema lacks raises ``ValueError`` before any write."""
        self._reject_additive_row_ops("update_where")
        self.require_columns(set_exprs, "update_where")
        rows = self.snapshot().filter(predicate)
        for col, expr in set_exprs.items():
            rows = rows.withColumn(col, F.expr(expr))
        changes = rows.withColumn("__op", F.lit("U"))
        return self.merge(changes, epoch=epoch, epoch_info=epoch_info)

    # z-order clustering: value ranges per column for the interleaved ids
    _ZORDER_RANGES = 64

    def _zorder_boundaries(self, df, col: str, n_ranges: int) -> list:
        """Order-preserving range boundaries for ``col`` from a
        hash-deterministic sample (Delta's range_partition_id computation
        likewise samples; hash-thinning instead of Bernoulli sampling keeps
        the layout identical under replay regardless of partitioning).
        Metadata-bounded: ~8x n_ranges distinct values reach the driver."""
        nn = df.filter(F.col(col).isNotNull()).select(col)
        n = nn.distinct().count()
        if n <= 1:
            return []
        mod = max(1, n // (n_ranges * 8))
        vals = [
            r[0]
            for r in nn.filter(F.pmod(F.xxhash64(F.col(col)), F.lit(mod)) == 0)
            .distinct()
            .orderBy(col)
            .collect()
        ]
        if len(vals) < 2:
            vals = [
                r[0]
                for r in nn.distinct().orderBy(col).limit(n_ranges * 8).collect()
            ]
        k = min(n_ranges - 1, len(vals) - 1)
        return sorted({vals[(i * len(vals)) // (k + 1)] for i in range(1, k + 1)})

    def _zorder_expr(self, df, cols: list[str]):
        """Interleaved-range-id z-value: each column maps to an
        ORDER-PRESERVING range id (count of sampled boundaries below the
        value — unlike hash-based interleave this keeps RAW per-file
        min/max stats tight on every clustered column, which is what
        ``_prune`` reads), and the ids' bits interleave into one long sort
        key. Pure column expression; boundary lookup is an O(ranges)
        literal-array aggregate, no join."""
        bits = (self._ZORDER_RANGES - 1).bit_length()

        # two-parameter lambda factory: pyspark higher-order functions infer
        # arity from the Python signature, so a defaulted capture would be
        # bound to an extra Column argument
        def _rank_merge(cname):
            return lambda acc, b: acc + F.when(F.col(cname) > b, 1).otherwise(0)

        ranks = []
        for c in cols:
            bounds = self._zorder_boundaries(df, c, self._ZORDER_RANGES)
            if not bounds:
                ranks.append(F.lit(0))
                continue
            arr = F.array(*[F.lit(b) for b in bounds])
            ranks.append(F.aggregate(arr, F.lit(0), _rank_merge(c)))
        z = F.lit(0).cast("long")
        m = len(cols)
        for i in range(bits):
            for j, r in enumerate(ranks):
                bit = F.shiftright(r, i).bitwiseAND(F.lit(1)).cast("long")
                z = z.bitwiseOR(F.shiftleft(bit, i * m + j))
        return z

    def compact(
        self,
        max_delta_depth: int | None = None,
        sort_cols: list[str] | None = None,
        files_per_bucket: int = 1,
        zorder_cols: list[str] | None = None,
    ) -> dict:
        """Fold MoR deltas into base buckets (resolved rewrite).

        Equivalent to Iceberg's rewrite_data_files maintenance action; run it
        every K epochs or when delta count crosses a threshold so read
        amplification stays bounded while writes stay O(changes).

        ``max_delta_depth``: when set, compact INCREMENTALLY — only buckets
        whose delta layer count exceeds the threshold are rewritten; clean
        buckets keep their existing base files (same paths, byte-identical)
        and their remaining delta entries. At 10^10 events a micro-batch
        touches a small fraction of buckets, so whole-table compaction does
        O(table) work per maintenance pass while incremental does O(dirty).
        ``None`` rewrites everything (full compaction).

        Contract: compaction rewrites the RESOLVED state, which drops delete
        tombstones. That is sound exactly because epochs are LSN-monotone —
        an upsert older than an applied delete can never arrive in a later
        epoch (same contract as Iceberg MoR compaction dropping equality
        deletes). Feeding out-of-LSN-order batches after a compaction would
        resurrect deleted keys — sources without the ordering guarantee
        (e.g. a file-order directory stream) must use
        ``consolidate_deltas`` instead, which folds layers but RETAINS
        tombstones.

        ``sort_cols`` + ``files_per_bucket``: Iceberg sort-order analogue.
        Rewritten buckets are range-split into ~``files_per_bucket`` files
        with disjoint ``sort_cols`` ranges and sorted within each file, so
        the per-file min/max stats in the manifest become tight and a
        key-predicate ``snapshot(where=...)`` skips most files INSIDE the
        bucket (plus better parquet RLE/dictionary compression). Default
        keeps the old single-file-per-bucket layout.

        ``zorder_cols``: multi-dimensional clustering (Delta
        ``OPTIMIZE ZORDER BY`` / Iceberg z-order rewrite analogue),
        mutually exclusive with ``sort_cols``. Linear sort makes stats
        tight on the LEADING column only — a path-only predicate over a
        (repo, path)-sorted layout prunes nothing. Z-order sorts by the
        interleaved order-preserving range ids of every listed column, so
        each file covers a small rectangle of the value space and raw
        min/max stats prune on EACH column independently (and each file
        holds few distinct values per column, sharpening the per-file
        bloom lever too).
        """
        if sort_cols and zorder_cols:
            raise ValueError("sort_cols and zorder_cols are mutually exclusive")
        snap = self.current_snapshot()
        deltas = snap.get("deltas", [])
        if not deltas:
            return {"compacted": False, "snapshot_id": snap["snapshot_id"]}

        # None: every bucket with any delta
        dirty = self._dirty_buckets(
            deltas, 0 if max_delta_depth is None else max_delta_depth
        )
        if not dirty:
            return {
                "compacted": False,
                "snapshot_id": snap["snapshot_id"],
                "dirty_buckets": 0,
            }

        resolved = self.snapshot(buckets=dirty)
        out_rel = self._staging_rel("s", snap["snapshot_id"] + 1)
        # z-order pays several driver-triggered jobs over `resolved` (a
        # distinct count + boundary collects PER clustered column) before the
        # final write — persist so the base+delta MoR resolution runs once,
        # not 2-3x per column
        if zorder_cols:
            resolved = resolved.persist()
        try:
            staged = resolved.withColumn("__bucket", self._bucket_expr(snap))
            n_out = max(len(dirty) * max(files_per_bucket, 1), 1)
            if sort_cols:
                # range partitioning on (bucket, sort_cols) gives each output
                # file a disjoint key range inside its bucket; partitionBy below
                # re-splits the rare range partition that straddles two buckets
                staged = staged.repartitionByRange(
                    n_out, "__bucket", *sort_cols
                ).sortWithinPartitions("__bucket", *sort_cols)
            elif zorder_cols:
                staged = (
                    staged.withColumn("__z", self._zorder_expr(resolved, zorder_cols))
                    .repartitionByRange(n_out, "__bucket", "__z")
                    .sortWithinPartitions("__bucket", "__z")
                    .drop("__z")
                )
            else:
                # AQE-sized: one file per bucket needs each bucket whole in
                # one task, not one task per bucket
                staged = staged.repartition("__bucket")
            self._bucketed_writer(staged, snap).parquet(
                os.path.join(self.data_dir, out_rel)
            )
        finally:
            if zorder_cols:
                resolved.unpersist()
        dirty_set = set(dirty)
        buckets = {
            b: e for b, e in snap["buckets"].items() if int(b) not in dirty_set
        }
        buckets.update(self._base_entries(self._written_files(out_rel), snap))
        new_deltas = self._without_buckets(deltas, dirty_set)
        committed = self._commit(snap, "compact", buckets=buckets, deltas=new_deltas)
        return {
            "compacted": True,
            "snapshot_id": committed["snapshot_id"],
            "n_buckets": len(buckets),
            "dirty_buckets": len(dirty),
            "remaining_delta_layers": len(new_deltas),
        }

    def consolidate_deltas(self, max_delta_depth: int | None = None) -> dict:
        """MINOR compaction (LSM-style): fold each dirty bucket's whole
        delta stack into ONE resolved delta layer that RETAINS delete
        tombstones — bounding read amplification without ``compact``'s
        LSN-monotone precondition.

        ``compact`` folds into the base and drops tombstones, sound only
        when no later batch can carry an older lsn (the micro-batch
        runner's lsn-sliced epochs). A file-order directory stream has no
        such guarantee: dropping a delete's lsn memory lets a
        late-arriving older upsert resurrect the deleted key. Here the
        per-key winner (latest order_col, layer index as tiebreaker —
        exactly ``snapshot()``'s resolution order: both call ``_resolve``
        over ``_layer_files`` / ``_read_layers``) is kept INCLUDING
        final-state deletes, so resolution is unchanged under ANY future
        arrival order; future merges still win order_col ties via their
        higher layer index. resolve='sum' tables fold additively (one
        summed row per key — order-free by algebra).

        ``max_delta_depth``: only buckets with more than this many layers
        are folded (default 1 — any stacked bucket). Base files are never
        touched; cost is O(dirty buckets' delta rows). The folded layers'
        old files become unreferenced and are swept by
        ``expire_snapshots``. Tombstones accrete with cumulative deletes:
        reclaim them with a full ``compact()`` at a point where the source
        is known quiesced/lsn-complete (e.g. the micro-batch runner's
        ordered checkpoints). Same change-data-feed caveat as ``compact``:
        the layer re-fold makes ``changes_between`` windows that CROSS
        this commit unreadable (re-sync incremental consumers from the
        consolidated snapshot)."""
        snap = self.current_snapshot()
        deltas = snap.get("deltas", [])
        if not deltas:
            return {"consolidated": False, "snapshot_id": snap["snapshot_id"]}
        dirty = self._dirty_buckets(
            deltas, 1 if max_delta_depth is None else max_delta_depth
        )
        if not dirty:
            return {
                "consolidated": False,
                "snapshot_id": snap["snapshot_id"],
                "dirty_buckets": 0,
            }
        dirty_set = set(dirty)
        # the dirty buckets' delta layers only: the base is never read
        layers = [lf for lf in self._layer_files(snap, dirty) if lf[0] >= 0]
        additive = snap.get("resolve", "latest") == "sum"
        df = self._read_layers(snap, layers, tagged=not additive)
        resolved = self._resolve(df, snap, with_tombstones=True)  # keep D rows
        out_rel = self._staging_rel("d", snap["snapshot_id"] + 1)
        to_write = resolved.withColumn("__bucket", self._bucket_expr(snap)).repartition(
            "__bucket"
        )
        self._bucketed_writer(to_write, snap).parquet(
            os.path.join(self.data_dir, out_rel)
        )
        # the consolidated layer sits at index 0: its buckets exist in NO
        # other layer (their entries are dropped from the survivors), so
        # relative layer order between it and the survivors can never decide
        # a tie
        new_deltas = [
            self._delta_layer(self._written_files(out_rel), snap)
        ] + self._without_buckets(deltas, dirty_set)
        committed = self._commit(snap, "consolidate", deltas=new_deltas)
        return {
            "consolidated": True,
            "snapshot_id": committed["snapshot_id"],
            "dirty_buckets": len(dirty),
            "remaining_delta_layers": len(new_deltas),
        }

    def rebucket(
        self,
        new_n_buckets: int,
        sort_cols: list[str] | None = None,
        files_per_bucket: int = 1,
    ) -> dict:
        """Bucket-count evolution — the Iceberg partition-spec-evolution
        analogue for the hash-bucket layout. The count chosen at table
        creation stops fitting when the table grows 100x (buckets become
        multi-GB sort/merge units); this rewrites the resolved table under
        the NEW bucket function and resets the delta layers, after which
        merges and bucket-pruned reads use the new count transparently
        (``bucket_expr``/``merge`` always read it from the current snapshot).
        O(table) — run rarely, like a full compaction; accepts the same
        sort-order options and the same tombstone contract (the resolved
        rewrite drops delete tombstones; see ``compact``).
        """
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        snap = self.current_snapshot()
        resolved = self.snapshot()
        out_rel = self._staging_rel("s", snap["snapshot_id"] + 1)
        tmp_snap = dict(snap)
        tmp_snap["n_buckets"] = new_n_buckets
        staged = resolved.withColumn("__bucket", self._bucket_expr(tmp_snap))
        if sort_cols:
            staged = staged.repartitionByRange(
                max(new_n_buckets * max(files_per_bucket, 1), 1),
                "__bucket",
                *sort_cols,
            ).sortWithinPartitions("__bucket", *sort_cols)
        else:
            staged = staged.repartition("__bucket")
        self._bucketed_writer(staged, snap).parquet(
            os.path.join(self.data_dir, out_rel)
        )
        committed = self._commit(
            snap,
            "rebucket",
            n_buckets=new_n_buckets,
            buckets=self._base_entries(self._written_files(out_rel), snap),
            deltas=[],
        )
        return {
            "rebucketed": True,
            "snapshot_id": committed["snapshot_id"],
            "n_buckets": new_n_buckets,
        }

    def set_properties(self, updates: dict) -> None:
        """Merge key/values into snapshot properties (new metadata snapshot)."""
        snap = self.current_snapshot()
        props = json.loads(json.dumps(snap["properties"]))
        props.update(updates)
        self._commit(snap, "properties", properties=props)

    # ------------------------------------------------ CHECK constraints
    def check_constraints(self) -> dict[str, str]:
        """Active CHECK constraints: {name: sql_expression}."""
        return dict(self.current_snapshot()["properties"].get("check_constraints", {}))

    def add_check_constraint(
        self, name: str, expr: str, validate_existing: bool = True
    ) -> None:
        """Delta ``ALTER TABLE ADD CONSTRAINT ... CHECK`` analogue.

        Every subsequent ``merge`` evaluates ``expr`` against upsert rows;
        rows where it is definitively FALSE are diverted to the
        ``_quarantine`` sidecar (see ``quarantine()``) instead of merging —
        the DLT-expectation behavior, which at stream scale beats failing
        the whole epoch for one bad producer row. NULL passes (SQL-standard
        CHECK). ``validate_existing=True`` scans current live rows first
        and refuses the constraint if any violate it, so a constraint can
        never be added that the table already breaks (Delta parity).
        """
        snap = self.current_snapshot()
        if snap.get("resolve") == "sum":
            raise ValueError(
                "CHECK constraints are undefined on additive (resolve='sum') "
                "tables: merge rows are per-key deltas, not row states"
            )
        # analysis-check the expression against the current schema NOW, not
        # as an opaque failure inside some future epoch's merge
        probe = self._empty_df(self.schema_fields(snap))
        probe.select(F.expr(expr).cast("boolean"))
        if validate_existing:
            n_bad = (
                self.snapshot()
                .filter(~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)))
                .limit(1)
                .count()
            )
            if n_bad:
                raise CheckConstraintError(
                    f"existing rows violate CHECK constraint {name!r}: {expr}"
                )
        cons = dict(snap["properties"].get("check_constraints", {}))
        cons[name] = expr
        self.set_properties({"check_constraints": cons})

    def drop_check_constraint(self, name: str) -> None:
        cons = self.check_constraints()
        if name in cons:
            del cons[name]
            self.set_properties({"check_constraints": cons})

    def quarantine(self) -> DataFrame:
        """Rows diverted by CHECK constraints, all epochs: current-schema
        payload columns + ``__op`` + ``__violated`` (array of constraint
        names) + ``epoch`` (partition-discovered). Pair with a corrected
        re-merge for the dead-letter re-drive workflow."""
        qdir = os.path.join(self.location, "_quarantine")
        have = os.path.isdir(qdir) and any(
            d.startswith("epoch=") for d in os.listdir(qdir)
        )
        if not have:
            empty = self._empty_df(self.schema_fields(self.current_snapshot()))
            return (
                empty.withColumn("__op", F.lit("U"))
                .withColumn("__violated", F.array().cast("array<string>"))
                .withColumn("epoch", F.lit(0).cast("int"))
                .limit(0)
            )
        return self.spark.read.parquet(qdir)

    # ------------------------------------------------- schema evolution
    def _evolve(self, mutate) -> None:
        snap = self.current_snapshot()
        before = [dict(f) for f in self.schema_fields(snap)]
        fields = [dict(f) for f in before]
        next_id = snap["next_field_id"]
        fields, next_id = mutate(fields, next_id)
        if fields == before and next_id == snap["next_field_id"]:
            return  # idempotent re-run: don't churn a no-op snapshot
        new_sv = snap["schema_version"] + 1
        self._commit(
            snap,
            "evolve",
            schema_version=new_sv,
            schemas={**snap["schemas"], str(new_sv): fields},
            next_field_id=next_id,
        )

    def add_column(
        self, name: str, type_str: str = "string", default=None
    ) -> None:
        """Add a column; ``default`` is the Iceberg-v3 ``initial-default``:
        rows in files written BEFORE the column existed read back this
        value instead of NULL (fixed at add time — changing it later would
        silently rewrite history, so it is immutable like Iceberg's).
        Writes still must carry every current-schema column (this engine
        has no write-default: the merge contract requires explicit values),
        and the next ``compact()`` materializes the default physically.
        Re-adding a dropped name allocates a new field id, so the new
        default applies to ALL older files — previously-written values
        cannot resurface (the drop/re-add rule)."""
        if default is not None:
            if not isinstance(default, (str, int, float, bool)):
                raise ValueError(
                    "initial default must be a JSON-scalar literal "
                    f"(got {type(default).__name__})"
                )
            # type-compatibility up front: a mismatched default would cast
            # to NULL in the read projection — silently breaking the
            # "reads the default, not NULL" contract
            ok = (
                (type_str == "string" and isinstance(default, str))
                or (type_str == "boolean" and isinstance(default, bool))
                or (
                    type_str in ("int", "bigint", "long")
                    and isinstance(default, int)
                    and not isinstance(default, bool)
                )
                or (
                    type_str in ("float", "double")
                    and isinstance(default, (int, float))
                    and not isinstance(default, bool)
                )
            )
            if not ok:
                raise ValueError(
                    f"initial default {default!r} is not compatible with "
                    f"column type {type_str!r}"
                )

        def mutate(fields, next_id):
            for f in fields:
                if f["name"] == name:
                    # idempotent no-op ONLY for an identical request: the
                    # default is immutable, so asking for a different one
                    # must fail loudly instead of silently keeping the old
                    if default is not None and f.get("initial_default") != default:
                        raise ValueError(
                            f"column {name!r} already exists with initial "
                            f"default {f.get('initial_default')!r}; defaults "
                            "are immutable (drop and re-add to change — old "
                            "files then read the NEW default under the new "
                            "field id)"
                        )
                    return fields, next_id  # idempotent (no-op commit skipped)
            fld = {"id": next_id, "name": name, "type": type_str}
            if default is not None:
                fld["initial_default"] = default
            fields.append(fld)
            return fields, next_id + 1

        self._evolve(mutate)

    def rename_column(self, old: str, new: str) -> None:
        # validate the target exists: a typo'd rename must fail HERE, not
        # commit a bumped-schema no-op and surface later as an unresolved
        # column far from the call site
        def mutate(fields, next_id):
            if not any(f["name"] == old for f in fields):
                raise ValueError(f"no column {old!r} in the current schema")
            if old != new and any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} already exists")
            for f in fields:
                if f["name"] == old:
                    f["name"] = new  # field ID unchanged -> old files still map
            return fields, next_id

        self._evolve(mutate)

    def widen_column(self, name: str, new_type: str) -> None:
        def mutate(fields, next_id):
            if not any(f["name"] == name for f in fields):
                raise ValueError(f"no column {name!r} in the current schema")
            for f in fields:
                if f["name"] == name:
                    if (f["type"], new_type) not in _WIDEN_OK:
                        raise ValueError(f"illegal widen {f['type']} -> {new_type}")
                    f["type"] = new_type
            return fields, next_id

        self._evolve(mutate)

    def drop_column(self, name: str) -> None:
        """Drop a column — Iceberg semantics: metadata-only (data files keep
        the bytes; the field-ID projection simply stops selecting them, and
        the next compaction rewrites files without the column). Re-adding
        the same NAME later allocates a NEW field id, so previously-written
        values can never resurface under the re-added column — the classic
        drop/re-add corruption a name-based mapping would hit. Key columns
        and the MoR order column are load-bearing and cannot be dropped."""
        snap = self.current_snapshot()
        protected = set(snap["key_cols"]) | {snap.get("order_col")}
        if name in protected:
            raise ValueError(f"cannot drop key/order column {name!r}")
        if not any(f["name"] == name for f in self.schema_fields(snap)):
            raise ValueError(f"no column {name!r} in the current schema")

        def mutate(fields, next_id):
            return [f for f in fields if f["name"] != name], next_id

        self._evolve(mutate)

    # ------------------------------------------------- maintenance
    # The live set is what the manifests on disk reference (``_manifests``),
    # the Delta VACUUM design: one reachability scan, no data read.
    # ``expire_snapshots`` and ``remove_orphans`` delete through ``_sweep``;
    # ``discard_staged`` deletes only roots no other manifest names.

    def _manifests(self, skip=()) -> list[dict]:
        """Every readable committed and staged manifest on disk whose path
        is not in ``skip``. Staged manifests count: a pending stage's files
        await ``publish_staged`` / ``discard_staged``. A file that does not
        parse is a crashed writer's partial write; the roots it would name
        are private to that attempt."""
        out = []
        for path in self._manifest_files():
            if path in skip:
                continue
            try:
                with open(path) as f:
                    out.append(json.load(f))
            except (json.JSONDecodeError, OSError):
                continue
        return out

    def _data_roots(self, max_sid: int | None = None) -> list[str]:
        """Names of the data roots, capped at snapshot id ``max_sid``."""
        return sorted(
            name
            for name in os.listdir(self.data_dir)
            if (root := self._parse_root(name))
            and (max_sid is None or root[1] <= max_sid)
        )

    def _unreferenced(self, max_sid: int | None = None, skip=()) -> list[str]:
        """Parquet files under the data roots (capped at ``max_sid`` when
        given), relative to the data dir and sorted, that no manifest of
        ``_manifests(skip)`` references."""
        referenced = set().union(*map(self._referenced_files, self._manifests(skip)))
        out = []
        for root in self._data_roots(max_sid):
            for d, _dirs, files in os.walk(os.path.join(self.data_dir, root)):
                for fname in files:
                    rel = os.path.relpath(os.path.join(d, fname), self.data_dir)
                    if fname.endswith(".parquet") and rel not in referenced:
                        out.append(rel)
        return sorted(out)

    def _sweep(self, entry_sid: int, older_than_s: float, expired=()) -> dict:
        """Delete what no manifest but the ``expired`` ones references:

          1. plan: the unreferenced parquet files under roots numbered
             <= ``entry_sid`` (an in-flight writer stages under the NEXT
             snapshot id, so its files are never candidates), minus those
             modified within the last ``older_than_s`` seconds;
          2. re-read ``current`` once; if a committer moved it off
             ``entry_sid`` raise ``ConcurrentCommitError``, nothing deleted;
          3. delete the ``expired`` manifest files;
          4. delete the planned files, then every directory of the swept
             roots left without parquet (``_remove_if_no_data``).

        Manifests go before their files: a crash between steps 3 and 4
        leaves orphans that the next sweep reclaims, never a manifest that
        still loads but whose files are gone."""
        cutoff = time.time() - older_than_s
        doomed: list[str] = []
        skipped_recent = 0
        for rel in self._unreferenced(entry_sid, skip=expired):
            abs_p = os.path.join(self.data_dir, rel)
            try:
                if older_than_s > 0 and os.path.getmtime(abs_p) >= cutoff:
                    skipped_recent += 1
                    continue
            except OSError:
                continue  # raced with another cleaner: nothing to do
            doomed.append(abs_p)
        if self._current_sid() != entry_sid:
            raise ConcurrentCommitError(f"current moved past {entry_sid} during the sweep")
        removed_snapshots = 0
        for path in expired:
            try:
                os.remove(path)
            except FileNotFoundError:
                continue  # a concurrent sweep got there first
            removed_snapshots += 1
        removed_files = removed_bytes = 0
        for abs_p in doomed:
            try:
                size = os.path.getsize(abs_p)
                os.remove(abs_p)
            except OSError:
                continue
            removed_files += 1
            removed_bytes += size
        for root in self._data_roots(entry_sid):
            for d, _dirs, _files in os.walk(os.path.join(self.data_dir, root), topdown=False):
                try:
                    self._remove_if_no_data(d)
                except OSError:
                    pass  # directory raced away; harmless
        return {
            "removed_snapshots": removed_snapshots,
            "removed_files": removed_files,
            "removed_bytes": removed_bytes,
            "skipped_recent": skipped_recent,
        }

    def orphan_files(self) -> DataFrame:
        """Disk-vs-manifest reconciliation, DRY-RUN (the report half of
        Iceberg's ``remove_orphan_files``): every parquet file under the
        data roots referenced by no manifest on disk (``_unreferenced``) —
        a crashed writer's pre-commit leftovers, a discarded staged attempt
        — with its size. Roots above ``current`` are listed too, though
        ``_sweep`` never deletes an in-flight writer's files. Report only;
        ``remove_orphans`` is the deletion half. Metadata-bounded and
        job-free: one manifest walk + one directory listing, no data pages
        read, and the frame is a local relation."""
        import pyarrow as pa

        files = self._unreferenced()
        sizes = []
        for rel in files:
            try:
                sizes.append(os.path.getsize(os.path.join(self.data_dir, rel)))
            except OSError:
                sizes.append(None)
        table = pa.table(
            {"file": pa.array(files, pa.string()), "size_bytes": pa.array(sizes, pa.int64())}
        )
        return self.spark.createDataFrame(table, "file string, size_bytes long")

    def remove_orphans(self, older_than_s: float = 259_200.0) -> dict:
        """Deletion half of Iceberg's ``remove_orphan_files``: delete the
        files ``orphan_files`` reports with ``_sweep(current,
        older_than_s)``, under its in-flight-root and CAS guards plus the
        age guard: only files whose mtime is older than ``older_than_s``
        (default 3 days, Iceberg's default for exactly this race). A slow
        writer that wrote data but has not yet committed its staged
        manifest looks orphaned to the scan — age is the only signal that
        distinguishes abandonment from in-flight.

        The age guard is the protection that matters. The CAS re-read is
        best effort: it runs once, before the deletes, so a commit that
        lands mid-sweep goes unseen (Iceberg's model too). Safety on a live
        table therefore rests on the age guard plus the staging convention
        that new writers use snapshot ids above the entry id.

        Metadata-bounded and job-free (one manifest walk + one directory
        listing). Returns ``{"removed_files": n, "removed_bytes": m,
        "skipped_recent": k}``. Use ``orphan_files()`` first as the
        dry-run audit; pass ``older_than_s=0`` only on a quiesced table
        (tests / decommission)."""
        r = self._sweep(self._current_sid(), older_than_s)
        return {k: r[k] for k in ("removed_files", "removed_bytes", "skipped_recent")}

    def expire_snapshots(
        self, keep_last: int = 1, older_than_s: float | None = None
    ) -> dict:
        """Expire old snapshots and delete their unreferenced data files —
        the Iceberg ``expire_snapshots`` + ``remove_orphan_files`` analogue.

        Keeps the current snapshot plus ``keep_last - 1`` ancestors (time
        travel window) and every tagged snapshot; the other committed
        manifests up to the current snapshot id expire, and
        ``_sweep(current, 0, expired)`` deletes them and then every data
        file no remaining manifest (kept, newer or staged) references. At
        10^10 events a MoR table accretes one delta layer per epoch and one
        rewrite per compaction; without expiry, storage is unbounded even
        though the live state is not. Run after ``compact()``.

        ``older_than_s`` adds Iceberg's age-based retention
        (``expire_snapshots(older_than => ...)``): ancestors committed
        within the last ``older_than_s`` seconds are kept EVEN beyond
        ``keep_last`` — so a maintenance job can promise "24 h of time
        travel" independently of commit rate. The two compose as a union
        (count window OR age window keeps a snapshot); age alone never
        expires the current snapshot.

        Readers of the CURRENT snapshot are unaffected (its files are all
        kept); concurrent time-travel readers of expired snapshots would
        break — same contract as Iceberg's maintenance action. The sweep's
        guards hold: roots above the entry snapshot id are never touched,
        and a pointer move during the scan raises ConcurrentCommitError
        before anything is deleted. Expired manifests are deleted before
        their files, so a crash in between leaves only orphans.
        """
        snap = self.current_snapshot()
        entry_sid = snap["snapshot_id"]
        cutoff = time.time() - older_than_s if older_than_s is not None else None
        kept = set()
        for s in self._ancestors(snap):
            # ancestors are newest -> oldest, so the first one outside BOTH
            # the count window and the age window ends the walk (the current
            # snapshot is always kept: the count window holds at least one)
            if len(kept) >= max(keep_last, 1) and not (
                cutoff is not None and s.get("committed_at", 0) >= cutoff
            ):
                break
            kept.add(s["snapshot_id"])
        # tags pin their snapshots: metadata and files survive until dropped
        kept |= {sid for sid in self.tags().values() if os.path.exists(self._snapshot_path(sid))}
        expired = [
            path
            for path, sid in self._manifest_files().items()
            if sid is not None and sid <= entry_sid and sid not in kept
        ]
        r = self._sweep(entry_sid, 0, expired)
        return {
            "kept_snapshots": sorted(kept),
            "removed_snapshots": r["removed_snapshots"],
            "removed_files": r["removed_files"],
        }

    @staticmethod
    def _remove_if_no_data(d: str) -> None:
        """Remove directory ``d`` once no parquet file is left in it. Its
        sidecars (_SUCCESS, .crc) go first: they would otherwise keep the
        directory — and its inode — alive forever on a long-running
        stream. A directory still holding anything else is kept."""
        if any(f.endswith(".parquet") for f in os.listdir(d)):
            return
        for fname in os.listdir(d):
            p = os.path.join(d, fname)
            if os.path.isfile(p) and (fname == "_SUCCESS" or fname.endswith(".crc")):
                os.remove(p)
        if not os.listdir(d):
            os.rmdir(d)

    # ------------------------------------------------------------ misc
    def drop(self) -> None:
        shutil.rmtree(self.location, ignore_errors=True)
