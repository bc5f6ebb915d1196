"""LakeTable unit tests: schema evolution, commit protocol, MoR/compaction."""

import pytest
from pyspark.sql import functions as F

from data_exchange_hl7_spark.lake.table import ConcurrentCommitError, LakeTable

SCHEMA = [("k", "string"), ("v", "string"), ("n", "int"), ("lsn", "bigint")]


def _changes(spark, rows):
    df = spark.createDataFrame(rows, "k string, v string, n int, lsn long, __op string")
    return df


def _mk(spark, tmp_path, name="t"):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, ["k"], n_buckets=4, order_col="lsn"
    )


# "folded" compacts after every merge, the read-optimized cadence
FOLD = pytest.mark.parametrize("fold", [False, True], ids=["mor", "folded"])


def test_merge_upsert_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", "9", 9, 3, "U"), ("b", None, None, 4, "D")]), epoch=1)
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert set(rows) == {"a"}
    assert rows["a"]["v"] == "9"


def test_epoch_idempotence_and_empty_epoch(spark, tmp_path):
    t = _mk(spark, tmp_path)
    r1 = t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    r2 = t.merge(_changes(spark, [("a", "XXX", 0, 99, "U")]), epoch=0)  # same epoch
    assert r1["applied"] and not r2["applied"]
    assert t.snapshot().collect()[0]["v"] == "1"
    r3 = t.merge(_changes(spark, []), epoch=1)  # empty epoch still advances
    assert r3["applied"] and "1" in t.committed_epochs()


def test_schema_evolution_add_rename_widen(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 7, 1, "U")]), epoch=0)
    t.add_column("extra", "string")
    t.rename_column("v", "v2")
    t.widen_column("n", "bigint")
    # old files still readable: field-id mapping renames, widen casts, add nulls
    row = t.snapshot().collect()[0]
    assert row["v2"] == "1" and row["extra"] is None and row["n"] == 7
    assert dict((f["name"], f["type"]) for f in t.schema_fields())["n"] == "bigint"
    # new write at current schema coexists with the old file
    new = spark.createDataFrame(
        [("b", "2", 2**40, 2, "x", "U")],
        "k string, v2 string, n long, lsn long, extra string, __op string",
    )
    t.merge(new, epoch=1)
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert rows["b"]["n"] == 2**40 and rows["b"]["extra"] == "x"
    assert rows["a"]["v2"] == "1"


def test_reads_span_schema_versions(spark, tmp_path):
    """A resolved scan and a lookup over MoR layers written at 3+ schema
    versions (add with an initial default, rename, widen int->bigint, drop)
    return the same rows, before and after compaction. Each layer is read
    with its own version's manifest schema, so an old INT32 file reads as
    int and then widens."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U"),
                             ("c", "3", 3, 3, "U")]), epoch=0)
    t.add_column("tier", "string", default="bronze")
    t.add_column("note", "string")
    t.merge(spark.createDataFrame(
        [("b", "2x", 22, 4, "gold", "y", "U"), ("d", "4", 4, 5, None, "x", "U")],
        "k string, v string, n int, lsn long, tier string, note string, __op string",
    ), epoch=1)
    t.rename_column("v", "v2")
    t.widen_column("n", "bigint")
    t.drop_column("note")
    t.merge(spark.createDataFrame(
        [("e", "5", 2**40, 6, "silver", "U"), ("c", None, None, 7, None, "D")],
        "k string, v2 string, n long, lsn long, tier string, __op string",
    ), epoch=2)
    snap = t.current_snapshot()
    assert len({d["schema_version"] for d in snap["deltas"]}) >= 3

    want = {
        "a": ("1", 1, "bronze"), "b": ("2x", 22, "gold"),
        "d": ("4", 4, None), "e": ("5", 2**40, "silver"),
    }

    def rows(df):
        assert df.columns == ["k", "v2", "n", "lsn", "tier"]
        return {r["k"]: (r["v2"], r["n"], r["tier"]) for r in df.collect()}

    for _ in ("layers", "compacted"):
        assert rows(t.snapshot()) == want
        assert rows(t.lookup([("a",), ("b",), ("c",), ("e",)])) == {
            k: want[k] for k in ("a", "b", "e")
        }
        t.compact()


@pytest.mark.parametrize("resolve", ["latest", "sum"])
def test_read_shapes_match_model(spark, tmp_path, resolve):
    """Every read shape against a Python model of the table, on a base at
    two schema versions plus three delta layers (the middle one deletes,
    or subtracts for resolve='sum'), before and after consolidate_deltas:
    a bucket subset, a key-column and a non-key-column ``where``, a
    key-prefix ``keys_in`` and ``with_tombstones``. A lookup's
    ``files_read`` equals the files its frame scans."""
    additive = resolve == "sum"
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        [("g", "string"), ("k", "string"), ("n", "int"), ("lsn", "bigint")],
        ["g", "k"], n_buckets=4,
        order_col=None if additive else "lsn", resolve=resolve,
    )
    model: dict = {}  # (g, k) -> [n, m, lsn, op]
    epoch = iter(range(100))

    def merge(rows):  # (g, k, n, m, lsn, op); m is left out before it exists
        df = spark.createDataFrame(
            rows, "g string, k string, n int, m int, lsn long, __op string"
        )
        has_m = "m" in [f["name"] for f in t.schema_fields()]
        t.merge(df if has_m else df.drop("m"), epoch=next(epoch))
        for g, k, n, m, lsn, op in rows:
            old = model.get((g, k))
            if additive:
                old = old or [0, 0, 0, "U"]
                model[(g, k)] = [old[0] + n, old[1] + (m or 0), old[2] + lsn, "U"]
            elif old is None or lsn >= old[2]:  # a later layer wins an lsn tie
                model[(g, k)] = [n, m, lsn, op]

    keys = [(g, str(i)) for g in "ab" for i in range(6)]
    merge([(g, k, int(k) + 1, None, 1, "U") for g, k in keys])
    t.compact()
    t.add_column("m", "int", default=7)
    for v in model.values():
        v[1] = 7  # base rows predate m: they read its initial default
    merge([("a", "0", 50, 1, 2, "U")])
    t.compact()  # rewrites one bucket only: the base spans two versions
    base = t.current_snapshot()["buckets"]
    assert len({e["schema_version"] for e in base.values()}) == 2
    merge([(g, k, 10 * int(k), 2, 3, "U") for g, k in keys[::2]]
          + [("c", "9", 9, 9, 3, "U")])
    if additive:
        merge([(g, k, -1, -1, 0, "U") for g, k in keys[1::3]])
    else:
        merge([(g, k, None, None, 4, "D") for g, k in keys[1::3]])
    # ("a", "1") ties its layer-1 delete on lsn and wins as the later layer;
    # ("a", "2") arrives with an older lsn than layer 0's and loses
    merge([(g, k, 100 + int(k), 3, 4, "U") for g, k in keys[::3] + keys[1:2]]
          + [("a", "2", 0, 0, 2, "U")])
    assert len(t.current_snapshot()["deltas"]) == 3

    bucket_of = {
        (r["g"], r["k"]): r["b"]
        for r in spark.createDataFrame(list(model), "g string, k string")
        .select("g", "k", t.bucket_expr().alias("b")).collect()
    }

    def want(keep=lambda key, v: True, tombstones=False):
        return {
            key: tuple(v[:3]) + ((v[3],) if tombstones else ())
            for key, v in model.items()
            if (tombstones or v[3] == "U") and keep(key, v)
        }

    def got(df):
        return {(r["g"], r["k"]): tuple(r)[2:] for r in df.collect()}

    b0 = bucket_of[("a", "1")]
    t_cols = ["g", "k", "n", "m", "lsn"]
    for stage in ("layers", "consolidated"):
        assert got(t.snapshot().select(*t_cols)) == want(), stage
        assert got(t.snapshot(buckets=[b0]).select(*t_cols)) == want(
            lambda key, v: bucket_of[key] == b0), stage
        assert got(t.snapshot(where=[("g", "=", "a")]).select(*t_cols)) == want(
            lambda key, v: key[0] == "a"), stage
        # lsn has manifest stats, so a pruned layer would resurrect an
        # older version (latest) or drop a partial sum
        assert got(t.snapshot(where=[("lsn", "<", 3)]).select(*t_cols)) == want(
            lambda key, v: v[2] < 3), stage
        prefix = spark.createDataFrame([("b",)], "g string")
        assert got(t.snapshot(keys_in=prefix).select(*t_cols)) == want(
            lambda key, v: key[0] == "b"), stage
        tomb = t.snapshot(with_tombstones=True).select(*t_cols, "__op")
        assert got(tomb) == want(tombstones=True), stage
        df, st = t.lookup([("a", "0"), ("b", "4"), ("c", "9")], with_stats=True)
        assert got(df.select(*t_cols)) == want(
            lambda key, v: key in {("a", "0"), ("b", "4"), ("c", "9")}), stage
        assert st["files_read"] == len(df.inputFiles()), (stage, st)
        assert t.consolidate_deltas()["consolidated"] or stage == "consolidated"


@FOLD
def test_merge_writes_manifest_types(spark, tmp_path, fold):
    """A change frame whose column types differ from the manifest (n as
    long for an int column) is cast on write, so the files read back with
    the manifest schema."""
    t = _mk(spark, tmp_path)
    t.merge(spark.createDataFrame(
        [("a", "1", 7, 1, "U")], "k string, v string, n long, lsn int, __op string"
    ), epoch=0)
    if fold:
        t.compact()
    assert [tuple(r) for r in t.snapshot().collect()] == [("a", "1", 7, 1)]
    assert [r["n"] for r in t.lookup([("a",)]).collect()] == [7]


def test_legacy_copy_on_write_manifest_reads_but_refuses_merge(spark, tmp_path):
    """A table written by an older version in copy-on-write mode has
    ``mode: "cow"`` and no order_col in its manifest, so delta layers over it
    cannot be resolved. Its reads still work; a merge raises before any
    write."""
    import json
    import os

    t = _mk(spark, tmp_path, "legacy")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    t.compact()
    # the manifest as the copy-on-write merge left it: base files, no deltas
    snap = t.current_snapshot()
    with open(os.path.join(t.meta_dir, f"v{snap['snapshot_id']:08d}.json"), "w") as f:
        json.dump({**snap, "mode": "cow", "order_col": None}, f)
    assert {tuple(r) for r in t.snapshot().collect()} == {("a", "1", 1, 1), ("b", "2", 2, 2)}
    assert [r["v"] for r in t.lookup([("a",)]).collect()] == ["1"]
    assert t.count_rows() == (2, True)

    def files():
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(t.location) for f in fs)

    before = files()
    with pytest.raises(ValueError, match="copy-on-write.*order_col"):
        t.merge(_changes(spark, [("a", "9", 9, 3, "U")]), epoch=1)
    assert files() == before
    assert t.current_snapshot() == {**snap, "mode": "cow", "order_col": None}


def test_illegal_widen_rejected(spark, tmp_path):
    t = _mk(spark, tmp_path, "t2")
    with pytest.raises(ValueError, match="illegal widen"):
        t.widen_column("v", "bigint")  # string -> bigint is not a widening


def test_concurrent_commit_detected(spark, tmp_path):
    t = _mk(spark, tmp_path, "t3")
    snap = t.current_snapshot()
    stale = dict(snap)
    stale["snapshot_id"] = snap["snapshot_id"] + 1
    t._write_snapshot(dict(stale), expected_parent=snap["snapshot_id"])  # winner
    with pytest.raises(ConcurrentCommitError):
        t._write_snapshot(dict(stale), expected_parent=snap["snapshot_id"])  # loser


def test_mor_resolution_and_compaction(spark, tmp_path):
    t = _mk(spark, tmp_path, "t4")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", "3", 3, 3, "U"), ("b", None, None, 4, "D")]), epoch=1)
    before = sorted(tuple(r) for r in t.snapshot().collect())
    assert [r[0] for r in before] == ["a"] and before[0][1] == "3"
    res = t.compact()
    assert res["compacted"]
    after = sorted(tuple(r) for r in t.snapshot().collect())
    assert after == before  # compaction preserves the resolved state
    assert t.current_snapshot()["deltas"] == []
    # manifest survives compaction
    assert set(t.committed_epochs()) == {"0", "1"}
    # deletes are physically gone after compaction (no tombstones)
    t2 = LakeTable(spark, t.location)
    assert t2.snapshot().count() == 1


def test_metadata_tables_reflect_manifest(spark, tmp_path):
    """meta_files / meta_snapshots / meta_refs are the Iceberg
    files/snapshots/refs metadata tables: ops queries (delta depth per
    bucket, size distribution, tag audit) as plain DataFrame SQL, built
    metadata-only from the manifest + parquet footers."""
    t = _mk(spark, tmp_path, "meta")
    t.merge(_changes(spark, [(f"k{i}", str(i), i, i, "U") for i in range(30)]), epoch=0)
    t.compact()  # MoR: base files exist only after the first compaction
    t.merge(_changes(spark, [(f"k{i}", "u", i, 100 + i, "U") for i in range(10)]), epoch=1)
    t.create_tag("audit-1")

    files = t.meta_files()
    rows = files.collect()
    kinds = {r["kind"] for r in rows}
    assert kinds == {"base", "delta"}
    assert all(r["size_bytes"] > 0 and r["record_count"] > 0 for r in rows)
    # record counts reconcile: base+delta rows >= resolved snapshot rows
    assert sum(r["record_count"] for r in rows) >= t.snapshot().count()
    # the ops query the table exists for: delta depth per bucket
    depth = {
        r["bucket"]: r["d"]
        for r in files.filter("kind = 'delta'")
        .groupBy("bucket")
        .agg(F.count_distinct("delta_layer").alias("d"))
        .collect()
    }
    assert depth and all(d >= 1 for d in depth.values())

    snaps = t.meta_snapshots().collect()
    assert len(snaps) == len(t.history())
    assert snaps[0]["snapshot_id"] == t.current_snapshot()["snapshot_id"]

    refs = {r["name"]: r["snapshot_id"] for r in t.meta_refs().collect()}
    assert refs == t.tags()

    # after compaction the delta rows disappear and bases are rewritten
    t.compact()
    post = t.meta_files()
    assert post.filter("kind = 'delta'").count() == 0
    assert post.filter("kind = 'base'").count() >= 1


def test_orphan_files_reports_unreferenced_only(spark, tmp_path):
    """orphan_files is the dry-run half of remove_orphan_files: a crashed
    writer's leftover parquet shows up with its size; every
    manifest-referenced file stays out of the report; expire_snapshots
    then actually reclaims the orphan."""
    import os

    t = _mk(spark, tmp_path, "orph")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    assert t.orphan_files().count() == 0

    # crashed writers' leftovers: one under an OLD snapshot id (reclaimable)
    # and one under a FUTURE id (an in-flight writer — expiry must not touch)
    def _fake(sid_dir):
        d = os.path.join(t.data_dir, sid_dir, "__bucket=0")
        os.makedirs(d)
        p = os.path.join(d, "part-orphan.parquet")
        spark.createDataFrame([(1,)], "x int").toPandas().to_parquet(p)

    _fake("s00000001-deadbeef")
    _fake("s00000099-deadbeef")

    rows = {r["file"]: r["size_bytes"] for r in t.orphan_files().collect()}
    assert len(rows) == 2 and all(sz > 0 for sz in rows.values())
    # referenced files are untouched by the report and by expiry
    t.merge(_changes(spark, [("a", "9", 9, 9, "U")]), epoch=1)
    t.compact()
    t.expire_snapshots(keep_last=1)
    # expiry reclaimed the old orphan; the future-sid one survives the
    # in-flight-writer guard and stays visible in the report
    left = [r["file"] for r in t.orphan_files().collect()]
    assert len(left) == 1 and left[0].startswith("s00000099")
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {"a": "9", "b": "2"}


def test_remove_orphans_age_and_inflight_guards(spark, tmp_path):
    """remove_orphans (the deletion half of remove_orphan_files) must honor
    both guards: files younger than older_than_s are SKIPPED (a slow
    in-flight writer looks orphaned until it commits), files under a
    snapshot root ABOVE the entry snapshot id are never candidates at all,
    and referenced data is untouched."""
    import os

    t = _mk(spark, tmp_path, "rmorph")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)

    def _fake(sid_dir):
        d = os.path.join(t.data_dir, sid_dir, "__bucket=0")
        os.makedirs(d)
        p = os.path.join(d, "part-orphan.parquet")
        spark.createDataFrame([(1,)], "x int").toPandas().to_parquet(p)
        return p

    old = _fake("s00000001-deadbeef")
    fut = _fake("s00000099-deadbeef")

    # age guard: both files are brand new -> nothing deleted, one skipped
    # (the future-sid file is not even a candidate, so it isn't counted)
    r = t.remove_orphans(older_than_s=3600)
    assert r["removed_files"] == 0 and r["skipped_recent"] == 1
    assert os.path.exists(old) and os.path.exists(fut)

    # age guard off: the old-sid orphan goes, the in-flight root survives
    r = t.remove_orphans(older_than_s=0)
    assert r["removed_files"] == 1 and r["removed_bytes"] > 0
    assert not os.path.exists(old) and os.path.exists(fut)
    # the swept root's empty directory chain was tidied
    assert not os.path.exists(os.path.dirname(old))

    # referenced data intact; report now shows only the in-flight file
    assert {r2["k"]: r2["v"] for r2 in t.snapshot().collect()} == {"a": "1", "b": "2"}
    left = [r2["file"] for r2 in t.orphan_files().collect()]
    assert len(left) == 1 and left[0].startswith("s00000099")


def _model_refs(manifest):
    """The data files a manifest references: its base and delta files."""
    refs = {f for e in manifest["buckets"].values() for f in e["files"]}
    for d in manifest.get("deltas", []):
        refs |= {f for fs in d["files"].values() for f in fs}
    return refs


def _disk_state(t):
    """(parquet files under the data dir, relative; entries of _meta)."""
    import os

    files = {
        os.path.relpath(os.path.join(d, f), t.data_dir)
        for d, _dirs, fs in os.walk(t.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    return files, set(os.listdir(t.meta_dir))


def test_sweeps_keep_exactly_what_retained_manifests_reference(spark, tmp_path):
    """Reachability model for every path that deletes table files. After
    expire_snapshots, remove_orphans(0) and discard_staged, the parquet
    files on disk are exactly the files the retained manifests reference
    (count window, tags, the branch pin, pending stages) plus the files of
    in-flight roots above current, and _meta holds exactly the retained
    manifests."""
    import os

    t = _mk(spark, tmp_path, "model")
    merge = lambda e, rows, **kw: t.merge(_changes(spark, rows), epoch=e, **kw)
    merge(0, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")])
    merge(1, [("a", "3", 3, 3, "U"), ("c", "4", 4, 4, "U")])
    t.create_tag("keep")
    t.compact()
    merge(2, [("b", None, None, 5, "D")])
    pending = merge(3, [("d", "5", 5, 6, "U")], publish=False)["staged"]
    doomed = merge(4, [("e", "6", 6, 7, "U")], publish=False)["staged"]
    b = t.branch(str(tmp_path / "br"), name="audit")  # pins current
    merge(5, [("a", "7", 7, 8, "U")])
    t.compact()
    merge(6, [("f", "8", 8, 9, "U")])
    cur = t.current_snapshot()["snapshot_id"]

    def plant(root):
        d = os.path.join(t.data_dir, root, "__bucket=0")
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame([(1,)], "x int").toPandas().to_parquet(
            os.path.join(d, "part-crashed.parquet")
        )
        return os.path.join(root, "__bucket=0", "part-crashed.parquet")

    plant("s00000001-0badcafe")  # a crashed writer below current
    inflight = {plant(f"d{cur + 3:08d}-0badcafe")}  # and one in flight

    committed = {s: t._load_snapshot(s) for s in range(cur + 1)}
    stages = {tok: t._load_staged(tok) for tok in (pending, doomed)}

    def check(kept, staged):
        files, meta = _disk_state(t)
        want = set(inflight)
        for m in [committed[s] for s in kept] + [stages[k] for k in staged]:
            want |= _model_refs(m)
        assert files == want
        assert meta == {"current", "tags.json"} | {f"v{s:08d}.json" for s in kept} | {
            f"staged-{k}.json" for k in staged
        }

    ancestors = [h["snapshot_id"] for h in t.history()]
    kept = set(ancestors[:2]) | set(t.tags().values())
    assert len(kept) == 4  # current, its parent, the tag, the branch pin
    t.expire_snapshots(keep_last=2)
    check(kept, {pending, doomed})

    plant(f"d{cur:08d}-0badcafe")  # a loser of the last commit's race
    assert t.remove_orphans(older_than_s=0)["removed_files"] == 1
    check(kept, {pending, doomed})

    t.discard_staged(doomed)
    check(kept, {pending})

    # every retained state still reads
    assert {r["k"] for r in t.snapshot(as_of="keep").collect()} == {"a", "b", "c"}
    assert {r["k"] for r in t.snapshot(staged=pending).collect()} == {"a", "c", "d"}
    assert {r["k"] for r in b.snapshot().collect()} == {"a", "c"}
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {"a": "7", "c": "4", "f": "8"}


@pytest.mark.parametrize("reclaim", ["expire_snapshots", "remove_orphans"])
def test_expire_crash_after_manifests_leaves_only_orphans(spark, tmp_path, monkeypatch, reclaim):
    """The sweep deletes expired manifests before their files. A crash in
    the file-deletion step therefore leaves a readable table whose leftover
    files are plain orphans, and the next sweep reclaims every one."""
    import os

    t = _mk(spark, tmp_path, "crash")
    for e in range(3):
        t.merge(_changes(spark, [("a", str(e), e, e, "U"), (f"k{e}", "x", e, e, "U")]), epoch=e)
    t.compact()
    before = sorted(tuple(r) for r in t.snapshot().collect())
    cur = t.current_snapshot()["snapshot_id"]

    real_remove = os.remove

    def crash(path, *a, **kw):
        if str(path).endswith(".parquet"):
            raise RuntimeError("simulated crash while deleting files")
        return real_remove(path, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(os, "remove", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            t.expire_snapshots(keep_last=1)
    # the expired manifests are gone, the current one still reads
    assert {f for f in os.listdir(t.meta_dir) if f.endswith(".json")} == {f"v{cur:08d}.json"}
    fresh = LakeTable(spark, t.location)
    assert sorted(tuple(r) for r in fresh.snapshot().collect()) == before
    assert t.orphan_files().count() > 0

    if reclaim == "expire_snapshots":
        t.expire_snapshots(keep_last=1)
    else:
        t.remove_orphans(older_than_s=0)
    assert t.orphan_files().count() == 0
    assert _disk_state(t)[0] == _model_refs(t.current_snapshot())
    assert sorted(tuple(r) for r in t.snapshot().collect()) == before


def test_zorder_compaction_prunes_on_every_clustered_column(spark, tmp_path):
    """compact(zorder_cols=...) must yield files whose raw min/max stats
    prune on EVERY clustered column — linear sort only ever helps the
    leading column (a trailing-column predicate prunes nothing there) —
    while reading value-identical to the linear layout."""
    grid = [
        (f"r{i:02d}", f"p{j:02d}", f"v{i}-{j}", i * 16 + j, "U")
        for i in range(16)
        for j in range(16)
    ]

    def mk(name):
        t = LakeTable.create(
            spark, str(tmp_path / name),
            [("r", "string"), ("p", "string"), ("v", "string"), ("lsn", "bigint")],
            ["r", "p"], n_buckets=1, order_col="lsn",
        )
        df = spark.createDataFrame(
            grid, "r string, p string, v string, lsn long, __op string"
        )
        t.merge(df, epoch=0)
        return t

    lin = mk("lin")
    lin.compact(sort_cols=["r", "p"], files_per_bucket=16)
    zo = mk("zo")
    zo.compact(zorder_cols=["r", "p"], files_per_bucket=16)

    lentry = lin.current_snapshot()["buckets"]["0"]
    zentry = zo.current_snapshot()["buckets"]["0"]
    assert len(lentry["files"]) >= 8 and len(zentry["files"]) >= 8

    pred_p = [("p", "=", "p03")]
    lkept = LakeTable._prune(lentry["files"], lentry["stats"], pred_p)
    zkept = LakeTable._prune(zentry["files"], zentry["stats"], pred_p)
    # linear layout: every file spans the full p range -> no pruning
    assert len(lkept) == len(lentry["files"])
    # z-order: files are rectangles -> the p predicate skips files
    assert len(zkept) < len(zentry["files"])
    # the leading column still prunes under z-order
    rkept = LakeTable._prune(zentry["files"], zentry["stats"], [("r", "=", "r03")])
    assert len(rkept) < len(zentry["files"])

    # reads stay value-identical across layouts
    assert sorted(map(tuple, zo.snapshot(where=pred_p).collect())) == sorted(
        map(tuple, lin.snapshot(where=pred_p).collect())
    )
    assert {r["p"] for r in zo.snapshot(where=pred_p).collect()} == {"p03"}
    assert zo.snapshot(where=pred_p).count() == 16

    with pytest.raises(ValueError):
        zo.compact(sort_cols=["r"], zorder_cols=["p"])


def test_mor_order_col_decides(spark, tmp_path):
    t = _mk(spark, tmp_path, "t5")
    # later delta with LOWER lsn must NOT win
    t.merge(_changes(spark, [("a", "new", 1, 10, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", "stale", 1, 5, "U")]), epoch=1)
    assert t.snapshot().collect()[0]["v"] == "new"


def test_bucket_pruned_read(spark, tmp_path):
    t = _mk(spark, tmp_path, "t6")
    rows = [(f"k{i}", str(i), i, i, "U") for i in range(50)]
    t.merge(_changes(spark, rows), epoch=0)
    t.compact()  # inspect the folded base buckets
    snap = t.current_snapshot()
    some_bucket = int(list(snap["buckets"].keys())[0])
    part = t.snapshot(buckets=[some_bucket])
    assert 0 < part.count() < 50  # reads only the selected bucket's files


def test_expire_snapshots_removes_orphans(spark, tmp_path):
    t = _mk(spark, tmp_path, "t7")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", "3", 3, 3, "U")]), epoch=1)
    t.compact()
    before = sorted(tuple(r) for r in t.snapshot().collect())
    import os

    def parquet_count():
        n = 0
        for root, _d, files in os.walk(t.data_dir):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    n_before = parquet_count()
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_files"] > 0 and parquet_count() < n_before
    # current state unaffected; manifest + epochs survive
    assert sorted(tuple(r) for r in t.snapshot().collect()) == before
    assert set(t.committed_epochs()) == {"0", "1"}
    # expired metadata gone, current still loadable by a fresh handle
    t2 = LakeTable(spark, t.location)
    assert sorted(tuple(r) for r in t2.snapshot().collect()) == before


def test_expire_snapshots_keep_last_preserves_ancestor(spark, tmp_path):
    t = _mk(spark, tmp_path, "t8")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", "2", 2, 2, "U")]), epoch=1)
    res = t.expire_snapshots(keep_last=2)
    assert len(res["kept_snapshots"]) == 2
    assert t.snapshot().collect()[0]["v"] == "2"


def test_incremental_compaction_touches_only_dirty_buckets(spark, tmp_path):
    """compact(max_delta_depth=K) rewrites only buckets whose delta depth
    exceeds K; clean buckets keep their base files at the SAME paths and
    their delta entries, and the resolved state is unchanged."""
    import os

    t = _mk(spark, tmp_path, "t9")
    base = [(f"k{i}", str(i), i, i, "U") for i in range(40)]
    t.merge(_changes(spark, base), epoch=0)
    t.compact()  # all 40 keys land as base files across the 4 buckets
    snap0 = t.current_snapshot()
    assert len(snap0["buckets"]) == 4

    # hammer ONE key (one bucket) across 3 epochs -> that bucket's delta
    # depth is 3, everyone else's is 0
    for e in range(1, 4):
        t.merge(_changes(spark, [("k0", f"v{e}", e, 100 + e, "U")]), epoch=e)
    snap1 = t.current_snapshot()
    assert len(snap1["deltas"]) == 3
    hot_bucket = next(iter(snap1["deltas"][0]["files"]))
    before = sorted(tuple(r) for r in t.snapshot().collect())

    res = t.compact(max_delta_depth=2)
    assert res["compacted"] and res["dirty_buckets"] == 1
    snap2 = t.current_snapshot()
    # clean buckets: identical file paths (no rewrite happened)
    for b, entry in snap0["buckets"].items():
        if b != hot_bucket:
            assert snap2["buckets"][b]["files"] == entry["files"]
            for f in entry["files"]:
                assert os.path.exists(os.path.join(t.data_dir, f))
    # hot bucket: new files, no remaining delta layers reference it
    assert snap2["buckets"][hot_bucket]["files"] != snap0["buckets"][hot_bucket]["files"]
    for d in snap2["deltas"]:
        assert hot_bucket not in d["files"]
    assert sorted(tuple(r) for r in t.snapshot().collect()) == before

    # below-threshold depths are left alone entirely
    res2 = t.compact(max_delta_depth=2)
    assert not res2["compacted"]


def test_expire_spares_inflight_writer_files(spark, tmp_path):
    """Files staged under a snapshot id NEWER than current (an in-flight
    committer) must survive expiry; expired dirs lose their sidecars too."""
    import os

    t = _mk(spark, tmp_path, "t10")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", "2", 2, 2, "U")]), epoch=1)
    t.compact()
    # simulate a concurrent writer staging data for the NEXT snapshot
    staged = os.path.join(t.data_dir, "d00009999", "__bucket=0")
    os.makedirs(staged)
    staged_file = os.path.join(staged, "part-00000.parquet")
    open(staged_file, "wb").write(b"not yet committed")

    t.expire_snapshots(keep_last=1)
    assert os.path.exists(staged_file)  # in-flight data untouched
    # no husk directories: every surviving dir (except the staged one) still
    # holds live parquet somewhere below — expired dirs lose their
    # _SUCCESS/.crc sidecars and get rmdir'd instead of living forever
    for root, dirs, files in os.walk(t.data_dir):
        if root == t.data_dir or "d00009999" in root:
            continue
        has_parquet = any(
            f.endswith(".parquet")
            for r, _d, fs in os.walk(root)
            for f in fs
        )
        assert has_parquet, f"husk directory survived expiry: {root}"
    assert "d00009999" in set(os.listdir(t.data_dir))


def test_expire_detects_pointer_move(spark, tmp_path):
    """If another committer advances current between the scan and the
    deletion, expire must raise and delete nothing."""
    import os

    t = _mk(spark, tmp_path, "t11")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", "2", 2, 2, "U")]), epoch=1)

    real_open = open
    cur_path = os.path.join(t.meta_dir, "current")

    # advance the pointer the moment expire re-reads it: emulate a racing
    # committer by bumping `current` on first read of the CAS check
    orig = t.current_snapshot

    import builtins

    reads = {"n": 0}
    orig_open = builtins.open

    def tripping_open(path, *a, **kw):
        if str(path) == cur_path and a[:1] not in (("w",),):
            reads["n"] += 1
            if reads["n"] == 2:  # first read = current_snapshot(), second = CAS
                with orig_open(cur_path) as f:
                    v = int(f.read().strip())
                with orig_open(cur_path, "w") as f:
                    f.write(str(v + 1))
        return orig_open(path, *a, **kw)

    builtins.open = tripping_open
    try:
        with pytest.raises(ConcurrentCommitError):
            t.expire_snapshots(keep_last=1)
    finally:
        builtins.open = real_open


# ----------------------------------------------------- time travel / CDF / stats


def test_time_travel_reads_past_snapshot(spark, tmp_path):
    t = _mk(spark, tmp_path, "tt")
    r1 = t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    r2 = t.merge(_changes(spark, [("a", "9", 9, 3, "U"), ("b", None, None, 4, "D")]), epoch=1)
    # current state
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {"a": "9"}
    # as-of the first merge: both rows, pre-update values
    old = {r["k"]: r["v"] for r in t.snapshot(as_of=r1["snapshot_id"]).collect()}
    assert old == {"a": "1", "b": "2"}
    # as-of ids survive schema evolution commits in between
    t.add_column("late", "string")
    assert {r["k"] for r in t.snapshot(as_of=r2["snapshot_id"]).collect()} == {"a"}
    with pytest.raises(ValueError, match="not found"):
        t.snapshot(as_of=999)


def test_history_lineage(spark, tmp_path):
    """Every commit path derives its child the same way: dense snapshot ids,
    the right operation name, one manifest key set, no operation-specific
    field leaking onto a descendant, and a staged commit that publishes
    with its fingerprint intact."""
    t = _mk(spark, tmp_path, "th")

    def ch(rows):  # after add_column("x"), upserts carry every column
        return _changes(spark, rows).withColumn("x", F.lit(None).cast("string"))

    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)  # 1
    t.compact()  # 2
    t.add_column("x")  # 3
    t.merge(ch([]), epoch=1)  # 4: empty epoch still commits
    t.merge(ch([("a", "2", 2, 2, "U")]), epoch=2)  # 5
    t.merge(ch([("a", "3", 3, 3, "U"), ("b", "4", 4, 4, "U")]), epoch=3)  # 6
    assert t.consolidate_deltas()["consolidated"]  # 7
    t.rebucket(2)  # 8
    t.set_properties({"owner": "ingest"})  # 9
    t.rollback_to(6)  # 10
    staged = t.merge(ch([("c", "5", 5, 5, "U")]), epoch=4, publish=False)
    staged_at = t._load_staged(staged["staged"])["committed_at"]
    t.publish_staged(staged["staged"])  # 11

    h = t.history()
    assert [e["operation"] for e in h] == [
        "merge", "rollback", "properties", "rebucket", "consolidate",
        "merge", "merge", "merge", "evolve", "compact", "merge", "create",
    ]
    assert [e["snapshot_id"] for e in h] == list(range(11, -1, -1))
    assert [e["parent"] for e in h] == list(range(10, -1, -1)) + [None]
    assert [e["epochs"] for e in h][:3] == [
        ["0", "1", "2", "3", "4"], ["0", "1", "2", "3"], ["0", "1", "2", "3"],
    ]

    snaps = [t._load_snapshot(sid) for sid in range(12)]
    base_keys = set(snaps[0])
    for s in snaps:
        extra = {"rollback_of"} if s["operation"] == "rollback" else set()
        assert set(s) == base_keys | extra, s["operation"]
    assert snaps[10]["rollback_of"] == 6
    # the merge after the rollback does not inherit rollback_of, and its
    # committed_at (the transaction fingerprint) survived stage -> publish
    assert "rollback_of" not in snaps[11]
    assert snaps[11]["committed_at"] == staged_at
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {
        "a": "3", "b": "4", "c": "5",
    }


def test_changes_between_is_exact_change_feed(spark, tmp_path):
    t = _mk(spark, tmp_path, "cdf")
    r1 = t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    r2 = t.merge(_changes(spark, [("a", "9", 9, 3, "U"), ("b", None, None, 4, "D")]), epoch=1)
    r3 = t.merge(_changes(spark, [("c", "5", 5, 5, "U")]), epoch=2)
    # window (r1, r3]: exactly the epoch-1 and epoch-2 change rows
    ch = t.changes_between(r1["snapshot_id"], r3["snapshot_id"]).collect()
    got = {(r["k"], r["_change_type"], r["_commit_snapshot"]) for r in ch}
    assert got == {
        ("a", "U", r2["snapshot_id"]),
        ("b", "D", r2["snapshot_id"]),
        ("c", "U", r3["snapshot_id"]),
    }
    # empty window
    assert t.changes_between(r3["snapshot_id"]).count() == 0
    # downstream incremental apply of the feed onto the old state == new state
    full = {tuple(sorted(r.asDict().items())) for r in t.snapshot().collect()}
    old = t.snapshot(as_of=r1["snapshot_id"])
    feed = t.changes_between(r1["snapshot_id"])
    mirror = LakeTable.create(
        spark, str(tmp_path / "mirror"), SCHEMA, ["k"], n_buckets=4,
        order_col="lsn",
    )
    mirror.merge(old.withColumn("__op", F.lit("U")), epoch=0)
    mirror.merge(
        feed.withColumnRenamed("_change_type", "__op").drop("_commit_snapshot"),
        epoch=1,
    )
    assert {tuple(sorted(r.asDict().items())) for r in mirror.snapshot().collect()} == full


def test_changes_between_raises_on_cow(spark, tmp_path):
    """A table an older version created in copy-on-write mode (a hand-edited
    v0.json: ``mode: "cow"``, no order_col) kept its history in base-file
    rewrites, not delta layers: its change feed refuses, never reads empty."""
    import json
    import os

    t = _mk(spark, tmp_path, "cdfcow")
    v0 = os.path.join(t.meta_dir, "v00000000.json")
    with open(v0) as f:
        snap = json.load(f)
    with open(v0, "w") as f:
        json.dump({**snap, "mode": "cow", "order_col": None}, f)
    with pytest.raises(ValueError, match="copy-on-write"):
        t.changes_between(0)
    with pytest.raises(ValueError, match="copy-on-write"):
        t.changes_with_preimages(0)


def test_stats_file_skipping_prunes_and_stays_correct(spark, tmp_path):
    # one bucket so pruning (not bucketing) is what separates the files
    t = LakeTable.create(
        spark, str(tmp_path / "sk"), SCHEMA, ["k"], n_buckets=1,
        order_col="lsn",
    )
    t.merge(_changes(spark, [(f"a{i:02d}", "x", i, i, "U") for i in range(10)]), epoch=0)
    t.merge(_changes(spark, [(f"z{i:02d}", "y", i, 100 + i, "U") for i in range(10)]), epoch=1)
    snap = t.current_snapshot()
    # stats were recorded for key + order columns on every delta file
    for d in snap["deltas"]:
        for files in d["files"].values():
            for p in files:
                assert "k" in d["stats"][p] and "lsn" in d["stats"][p]
    # key-range predicate prunes the non-matching delta layer entirely
    all_files = [p for d in snap["deltas"] for fs in d["files"].values() for p in fs]
    kept = [
        p
        for d in snap["deltas"]
        for fs in d["files"].values()
        for p in LakeTable._prune(fs, d["stats"], [("k", ">=", "z00")])
    ]
    assert len(kept) < len(all_files)
    # and the filtered read is identical to filter-after-full-read
    via_skip = {r["k"] for r in t.snapshot(where=[("k", ">=", "z00")]).collect()}
    via_full = {r["k"] for r in t.snapshot().filter(F.col("k") >= "z00").collect()}
    assert via_skip == via_full == {f"z{i:02d}" for i in range(10)}


def test_mor_nonkey_predicate_never_prunes_before_resolution(spark, tmp_path):
    # key "a" is updated: old row lsn=1 (n=1), latest lsn=2 (n=999). A naive
    # file-prune on the non-key predicate n <= 1 would drop the newer file and
    # resurrect the superseded row; the read must instead resolve latest first
    # and return NO rows for "a".
    t = LakeTable.create(
        spark, str(tmp_path / "nk"), SCHEMA, ["k"], n_buckets=1,
        order_col="lsn",
    )
    t.merge(_changes(spark, [("a", "old", 1, 1, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", "new", 999, 2, "U")]), epoch=1)
    assert t.snapshot(where=[("n", "<=", 1)]).count() == 0
    assert t.snapshot(where=[("n", ">=", 999)]).count() == 1


def test_sorted_compaction_tightens_file_skipping(spark, tmp_path):
    """compact(sort_cols=..., files_per_bucket=K) must produce multiple
    range-disjoint files per bucket whose manifest stats let a key predicate
    skip files INSIDE the bucket — and the read stays value-identical."""
    t = LakeTable.create(
        spark, str(tmp_path / "sortc"), SCHEMA, ["k"], n_buckets=1,
        order_col="lsn",
    )
    t.merge(_changes(spark, [(f"a{i:02d}", "x", i, i, "U") for i in range(20)]), epoch=0)
    t.merge(_changes(spark, [(f"z{i:02d}", "y", i, 100 + i, "U") for i in range(20)]), epoch=1)
    r = t.compact(sort_cols=["k"], files_per_bucket=4)
    assert r["compacted"] and r["remaining_delta_layers"] == 0

    snap = t.current_snapshot()
    entry = snap["buckets"]["0"]
    assert len(entry["files"]) >= 3  # range-split inside the bucket
    kept = LakeTable._prune(entry["files"], entry["stats"], [("k", ">=", "z10")])
    assert 0 < len(kept) < len(entry["files"])  # stats actually skip files

    via_skip = {r_["k"] for r_ in t.snapshot(where=[("k", ">=", "z10")]).collect()}
    assert via_skip == {f"z{i:02d}" for i in range(10, 20)}

    # default compaction path unchanged: single file per bucket
    t2 = LakeTable.create(
        spark, str(tmp_path / "plainc"), SCHEMA, ["k"], n_buckets=1,
        order_col="lsn",
    )
    t2.merge(_changes(spark, [(f"a{i:02d}", "x", i, i, "U") for i in range(10)]), epoch=0)
    t2.compact()
    assert len(t2.current_snapshot()["buckets"]["0"]["files"]) == 1


def test_rebucket_preserves_state_and_future_merges(spark, tmp_path):
    """Bucket-count evolution: same rows before/after, bucket-pruned reads
    work under the new count, and later merges land in the new layout."""
    t = _mk(spark, tmp_path, "rb")  # 4 buckets
    t.merge(_changes(spark, [(f"k{i}", str(i), i, i, "U") for i in range(40)]), epoch=0)
    before = {(r["k"], r["lsn"]) for r in t.snapshot().collect()}

    r = t.rebucket(16)
    assert r["rebucketed"] and r["n_buckets"] == 16
    snap = t.current_snapshot()
    assert snap["n_buckets"] == 16 and snap["deltas"] == []
    assert {(x["k"], x["lsn"]) for x in t.snapshot().collect()} == before
    # bucket-pruned read under the NEW function still partitions the data
    some = int(list(snap["buckets"].keys())[0])
    part = t.snapshot(buckets=[some])
    assert 0 < part.count() < 40

    # merges after the rebucket use the new bucket expression transparently
    t.merge(_changes(spark, [("k1", "NEW", 99, 100, "U"), ("k2", None, None, 101, "D")]), epoch=1)
    after = {r_["k"]: r_["v"] for r_ in t.snapshot().collect()}
    assert after["k1"] == "NEW" and "k2" not in after and len(after) == 39


def test_concurrent_writers_cas_serializes(spark, tmp_path):
    """Two writers racing from the same parent: exactly one commit wins, the
    loser gets ConcurrentCommitError, and the winner's data is intact (the
    Iceberg optimistic-concurrency contract)."""
    import pytest

    from data_exchange_hl7_spark.lake.table import ConcurrentCommitError

    t = _mk(spark, tmp_path, "cc")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)

    # simulate a stale writer: capture the parent, let another commit land,
    # then attempt to commit against the stale parent
    stale = t.current_snapshot()
    t.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)  # winner
    loser = dict(stale)
    loser["snapshot_id"] = stale["snapshot_id"] + 1
    loser["parent"] = stale["snapshot_id"]
    with pytest.raises(ConcurrentCommitError):
        t._write_snapshot(loser, expected_parent=stale["snapshot_id"])

    # table state is the winner's, untouched by the failed commit
    assert {r["k"] for r in t.snapshot().collect()} == {"a", "b"}

    # a THREADED race through the public merge API: many writers, same table
    import threading

    errs, oks = [], []

    def writer(i):
        try:
            t.merge(
                _changes(spark, [(f"w{i}", str(i), i, 10 + i, "U")]),
                epoch=10 + i,
            )
            oks.append(i)
        except ConcurrentCommitError:
            errs.append(i)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(oks) >= 1  # at least one writer serialized through
    # every committed writer's row is present; no lost updates
    ks = {r["k"] for r in t.snapshot().collect()}
    for i in oks:
        assert f"w{i}" in ks


def test_write_audit_publish(spark, tmp_path):
    """Iceberg WAP pattern: a staged merge is invisible until published, the
    staged state is auditable by token, publish is CAS-guarded against
    intervening commits, and a failed audit discards cleanly."""
    import pytest

    from data_exchange_hl7_spark.lake.table import ConcurrentCommitError

    t = _mk(spark, tmp_path, "wap")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)

    r = t.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1, publish=False)
    assert r["applied"] is False and "staged" in r
    token = r["staged"]
    # invisible to readers of current...
    assert {x["k"] for x in t.snapshot().collect()} == {"a"}
    # ...but auditable by token
    assert {x["k"] for x in t.snapshot(staged=token).collect()} == {"a", "b"}

    assert t.publish_staged(token)["published"]
    assert {x["k"] for x in t.snapshot().collect()} == {"a", "b"}
    assert "1" in t.committed_epochs()  # epoch manifest arrived with publish

    # stale stage: another commit lands between stage and publish -> CAS fails
    r2 = t.merge(_changes(spark, [("c", "3", 3, 3, "U")]), epoch=2, publish=False)
    t.merge(_changes(spark, [("d", "4", 4, 4, "U")]), epoch=3)
    with pytest.raises(ConcurrentCommitError):
        t.publish_staged(r2["staged"])
    assert {x["k"] for x in t.snapshot().collect()} == {"a", "b", "d"}

    # failed audit: discard; the staged state never becomes visible
    r3 = t.merge(_changes(spark, [("e", "BAD", 5, 5, "U")]), epoch=4, publish=False)
    t.discard_staged(r3["staged"])
    with pytest.raises(ValueError):
        t.snapshot(staged=r3["staged"])
    assert "e" not in {x["k"] for x in t.snapshot().collect()}


def test_tags_pin_snapshots_against_expiry(spark, tmp_path):
    """A tagged snapshot stays time-travelable (metadata + files) through
    expire_snapshots until the tag is dropped; as_of accepts tag names."""
    import pytest

    t = _mk(spark, tmp_path, "tags")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    t.create_tag("v1.0")
    t.merge(_changes(spark, [("a", "2", 2, 2, "U"), ("b", "9", 9, 3, "U")]), epoch=1)
    t.merge(_changes(spark, [("c", "3", 3, 4, "U")]), epoch=2)

    # tag read by name
    assert {x["k"]: x["v"] for x in t.snapshot(as_of="v1.0").collect()} == {"a": "1"}

    r = t.expire_snapshots(keep_last=1)
    assert 1 in r["kept_snapshots"]  # the tagged snapshot survived
    assert {x["k"]: x["v"] for x in t.snapshot(as_of="v1.0").collect()} == {"a": "1"}
    # current unaffected
    assert {x["k"]: x["v"] for x in t.snapshot().collect()} == {"a": "2", "b": "9", "c": "3"}

    t.drop_tag("v1.0")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError):
        t.snapshot(as_of="v1.0")


def test_discard_staged_reclaims_data_dirs(spark, tmp_path):
    """discard_staged must delete the staged write's private data roots
    immediately: they are named s<sid>-<uuid> with sid = current+1, and
    expire_snapshots only sweeps roots with sid <= current, so without a
    later commit an orphaned stage would never be reclaimed."""
    import os

    t = _mk(spark, tmp_path, "dsc")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    before = set(os.listdir(t.data_dir))
    r = t.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1, publish=False)
    staged_roots = set(os.listdir(t.data_dir)) - before
    assert staged_roots, "stage must have written new data roots"

    t.discard_staged(r["staged"])
    assert not (set(os.listdir(t.data_dir)) & staged_roots), "orphan kept"
    # committed state untouched and readable
    assert {x["k"] for x in t.snapshot().collect()} == {"a"}


def test_history_epochs_sort_numerically(spark, tmp_path):
    """Epoch keys are stringified ints; past 9 epochs a lexicographic sort
    would order '10' before '2' in the lineage output."""
    t = _mk(spark, tmp_path, "hist12")
    for e in range(12):
        t.merge(_changes(spark, [("a", str(e), e, e + 1, "U")]), epoch=e)
    epochs = [int(e) for e in t.history()[0]["epochs"]]
    assert epochs == list(range(12))


def test_delete_where_purge_lifecycle(spark, tmp_path):
    """Takedown/purge: delete_where tombstones matching rows through the
    exactly-once merge (logical delete), the CDF shows them as D, time
    travel preserves the pre-purge state, and compact+expire makes the
    removal physical (pre-purge snapshot gone)."""
    t = _mk(spark, tmp_path)
    t.merge(
        _changes(
            spark,
            [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U"), ("c", "3", 3, 3, "U")],
        ),
        epoch=0,
    )
    pre_sid = t.current_snapshot()["snapshot_id"]
    r = t.delete_where("n >= 2", epoch=1)
    assert r["applied"]
    # logical delete: only 'a' remains
    assert {x["k"] for x in t.snapshot().collect()} == {"a"}
    # idempotent replay
    assert not t.delete_where("n >= 2", epoch=1)["applied"]
    # CDF records the purge as D rows
    cdf = t.changes_between(pre_sid)
    dels = {x["k"] for x in cdf.filter(F.col("__op") == "D").collect()}
    assert dels == {"b", "c"}
    # time travel still reads the pre-purge state (Iceberg posture)
    assert {x["k"] for x in t.snapshot(as_of=pre_sid).collect()} == {"a", "b", "c"}
    # physical removal: fold tombstones, expire pre-purge snapshots
    t.compact()
    t.expire_snapshots(keep_last=1)
    with pytest.raises(Exception):
        t.snapshot(as_of=pre_sid).collect()
    assert {x["k"] for x in t.snapshot().collect()} == {"a"}


def test_update_where_redacts_in_place(spark, tmp_path):
    """update_where rewrites matching rows through the exactly-once merge:
    the redacted value wins the MoR read-time resolution (same order value,
    later layer), replay is a no-op, and time travel shows the original."""
    t = _mk(spark, tmp_path)
    t.merge(
        _changes(spark, [("a", "secret", 1, 1, "U"), ("b", "ok", 2, 2, "U")]),
        epoch=0,
    )
    pre_sid = t.current_snapshot()["snapshot_id"]
    r = t.update_where("v = 'secret'", {"v": "'<REDACTED>'"}, epoch=1)
    assert r["applied"]
    rows = {x["k"]: x["v"] for x in t.snapshot().collect()}
    assert rows == {"a": "<REDACTED>", "b": "ok"}
    assert not t.update_where("v = 'secret'", {"v": "'<REDACTED>'"}, epoch=1)["applied"]
    assert {x["k"]: x["v"] for x in t.snapshot(as_of=pre_sid).collect()}["a"] == "secret"
    # a misspelt column would vanish in the merge: refused before any write
    sid = t.current_snapshot()["snapshot_id"]
    with pytest.raises(ValueError, match="'vv'"):
        t.update_where("v = 'ok'", {"vv": "'x'"}, epoch=2)
    assert t.current_snapshot()["snapshot_id"] == sid


def test_lookup_point_read_prunes_and_stays_correct(spark, tmp_path):
    """lookup(): the processing-status-by-id serving path. Correctness —
    latest row per requested key, tombstones honored, misses absent — plus
    the three pruning levers: bucket pruning (only the keys' buckets'
    files are considered), manifest box pruning on the sorted-compacted
    base (files_read < files_in_buckets), and pushed In filters on the key
    columns reaching the parquet scan (the shape that engages the
    row-group blooms _bucketed_writer enables on every data/delta file)."""
    t = LakeTable.create(
        spark, str(tmp_path / "pl"),
        [("repo", "string"), ("path", "string"), ("v", "string"), ("lsn", "bigint")],
        ["repo", "path"], n_buckets=4, order_col="lsn",
    )

    def ch(rows):
        return spark.createDataFrame(
            rows, "repo string, path string, v string, lsn long, __op string"
        )

    n = 200
    t.merge(ch([(f"r{i % 20}", f"p{i}", f"v{i}", i, "U") for i in range(n)]), epoch=0)
    # sorted compaction: base files get disjoint (repo, path) ranges
    t.compact(sort_cols=["repo", "path"], files_per_bucket=4)
    # post-compaction tail: an update, a tombstone, and fresh keys
    t.merge(
        ch([("r1", "p1", "v1b", 1000, "U"), ("r2", "p2", None, 1001, "D"),
            ("r3", "pX", "new", 1002, "U")]),
        epoch=1,
    )

    out, st = t.lookup(
        [("r1", "p1"), ("r2", "p2"), ("r3", "pX"), ("r9", "nope")],
        with_stats=True,
    )
    rows = {(r["repo"], r["path"]): r["v"] for r in out.collect()}
    assert rows == {("r1", "p1"): "v1b", ("r3", "pX"): "new"}  # D + miss absent

    assert st["buckets_read"] < st["buckets_total"]
    # box pruning on the sorted base: most of the 4 files/bucket miss the keys
    assert st["files_read"] < st["files_in_buckets"]

    # the In predicates on the key columns must reach the parquet scan
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "In(repo" in plan

    # time-travel lookup: before the tombstone epoch, r2/p2 was alive
    pre = t.lookup([("r2", "p2")], as_of=t.current_snapshot()["parent"])
    assert [r["v"] for r in pre.collect()] == ["v2"]


# ---------------------------------------------------------------- rollback
def test_rollback_restores_state_and_reopens_epoch(spark, tmp_path):
    """rollback_to (Iceberg rollback_to_snapshot analogue): a bad epoch is
    rolled off and the CORRECTED batch re-applied under the SAME epoch id —
    the ledger restore is what makes the re-apply possible under the
    exactly-once rule. Final state must equal a control table that never saw
    the bad batch."""
    t = _mk(spark, tmp_path, "roll")
    good0 = [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]
    bad1 = [("a", "CORRUPT", -1, 3, "U"), ("c", "CORRUPT", -1, 4, "U")]
    fix1 = [("a", "9", 9, 3, "U"), ("c", "3", 3, 4, "U")]

    t.merge(_changes(spark, good0), epoch=0)
    t.create_tag("pre_bad")
    t.merge(_changes(spark, bad1), epoch=1)
    assert {r["v"] for r in t.snapshot().collect()} == {"CORRUPT", "2"}

    res = t.rollback_to("pre_bad")  # tag ref; int sid works via the same path
    assert res["rolled_back"] and res["restored_snapshot"] == t.tags()["pre_bad"]
    # state is back to epoch-0; history stays linear with a rollback commit
    assert {r["v"] for r in t.snapshot().collect()} == {"1", "2"}
    h = t.history()
    assert h[0]["operation"] == "rollback"
    assert h[0]["parent"] == h[1]["snapshot_id"]

    # epoch ledger restored: epoch 0 still exactly-once, epoch 1 reopened
    assert not t.merge(_changes(spark, [("a", "XX", 0, 99, "U")]), epoch=0)["applied"]
    assert t.merge(_changes(spark, fix1), epoch=1)["applied"]

    control = _mk(spark, tmp_path, "control")
    control.merge(_changes(spark, good0), epoch=0)
    control.merge(_changes(spark, fix1), epoch=1)
    got = sorted(map(tuple, t.snapshot().select("k", "v", "n", "lsn").collect()))
    want = sorted(map(tuple, control.snapshot().select("k", "v", "n", "lsn").collect()))
    assert got == want

    # rollback to current is a no-op commit-wise
    cur = t.current_snapshot()["snapshot_id"]
    assert t.rollback_to(cur) == {"rolled_back": False, "snapshot_id": cur}


def test_rollback_time_travel_cdf_and_expiry(spark, tmp_path):
    """The rolled-off snapshot stays time-travel-readable until expiry; the
    rollback commit emits NO change-feed rows (Iceberg contract — consumers
    re-sync from the restored snapshot); expire_snapshots never reclaims the
    restored files because liveness is per-file from kept manifests."""
    t = _mk(spark, tmp_path, "rollcdf")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    pre_sid = t.current_snapshot()["snapshot_id"]
    t.merge(_changes(spark, [("a", "CORRUPT", -1, 2, "U")]), epoch=1)
    bad_sid = t.current_snapshot()["snapshot_id"]

    t.rollback_to(pre_sid)
    roll_sid = t.current_snapshot()["snapshot_id"]
    # time travel still shows the bad state
    assert [r["v"] for r in t.snapshot(as_of=bad_sid).collect()] == ["CORRUPT"]
    # no CDF rows for the rollback commit itself
    assert t.changes_between(bad_sid, roll_sid).count() == 0
    # corrected epoch's changes appear in the feed after the rollback
    t.merge(_changes(spark, [("a", "9", 9, 2, "U")]), epoch=1)
    feed = t.changes_between(roll_sid).collect()
    assert [(r["k"], r["v"], r["_change_type"]) for r in feed] == [("a", "9", "U")]

    # expiry drops the rolled-off snapshot but keeps every restored file
    t.expire_snapshots(keep_last=1)
    assert [r["v"] for r in t.snapshot().collect()] == ["9"]
    with pytest.raises(ValueError):
        t.snapshot(as_of=bad_sid).collect()


def test_rollback_keeps_current_schema(spark, tmp_path):
    """Iceberg rollback does not revert schema: after add_column + rollback
    to a pre-evolution snapshot, the column survives (null-filled through
    field-ID projection) and writes at the current schema proceed."""
    t = _mk(spark, tmp_path, "rollschema")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    pre_sid = t.current_snapshot()["snapshot_id"]
    t.add_column("extra", "string")
    t.merge(
        spark.createDataFrame(
            [("b", "2", 2, 2, "x", "U")],
            "k string, v string, n int, lsn long, extra string, __op string",
        ),
        epoch=1,
    )
    t.rollback_to(pre_sid)
    row = t.snapshot().collect()
    assert [(r["k"], r["extra"]) for r in row] == [("a", None)]
    names = [f["name"] for f in t.schema_fields()]
    assert "extra" in names
    t.merge(
        spark.createDataFrame(
            [("c", "3", 3, 3, "y", "U")],
            "k string, v string, n int, lsn long, extra string, __op string",
        ),
        epoch=2,
    )
    rows = {r["k"]: r["extra"] for r in t.snapshot().collect()}
    assert rows == {"a": None, "c": "y"}


def test_rollback_across_rebucket_restores_layout(spark, tmp_path):
    """Rollback must restore the PHYSICAL layout too: if the bucket count
    evolved after the target snapshot, the restored state carries the
    target's n_buckets and subsequent merges bucket against it — otherwise
    the merge's key-hash routing would disagree with the restored files."""
    t = _mk(spark, tmp_path, "rollbucket")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    pre_sid = t.current_snapshot()["snapshot_id"]
    assert t.current_snapshot()["n_buckets"] == 4
    t.rebucket(8)
    t.merge(_changes(spark, [("c", "3", 3, 3, "U")]), epoch=1)
    assert t.current_snapshot()["n_buckets"] == 8

    t.rollback_to(pre_sid)
    assert t.current_snapshot()["n_buckets"] == 4
    assert {r["k"] for r in t.snapshot().collect()} == {"a", "b"}
    t.merge(_changes(spark, [("c", "9", 9, 3, "U"), ("a", "7", 7, 4, "U")]), epoch=1)
    rows = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert rows == {"a": "7", "b": "2", "c": "9"}
    # bucket-pruned point read still routes by the restored count
    out = t.lookup([("a",)])
    assert [r["v"] for r in out.collect()] == ["7"]


# ---------------------------------------------------------------- branches
def test_branch_fork_isolated_then_fast_forward(spark, tmp_path):
    """Write-audit-publish on a branch-as-table: the fork is metadata-only
    (zero data copied), branch commits never touch the parent, and
    fast_forward publishes the branch head as ONE linear parent commit whose
    state equals the branch's. After publish the branch is retired (further
    commits raise) but stays readable, and the pin tag is dropped."""
    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)

    b = t.branch(str(tmp_path / "audit"))
    # fork copied no data files: the branch data dir holds no parquet yet
    import os
    assert not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(b.data_dir) for f in fs
    )
    # pin tag protects the fork base on the parent
    assert t.tags()["__branch_audit"] == 1

    # branch reads the fork state, then evolves independently
    assert {r["k"]: r["v"] for r in b.snapshot().collect()} == {"a": "1", "b": "2"}
    b.merge(_changes(spark, [("a", "9", 9, 3, "U"), ("c", "3", 3, 4, "U")]), epoch=1)
    b.merge(_changes(spark, [("b", None, None, 5, "D")]), epoch=2)
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {"a": "1", "b": "2"}

    res = t.fast_forward(b)
    assert res["fast_forwarded"] and res["files_published"] > 0
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {"a": "9", "c": "3"}
    h = t.history()
    assert h[0]["operation"] == "fast_forward"
    # published ledger adopted: branch epochs are exactly-once on the parent
    assert not t.merge(_changes(spark, [("a", "XX", 0, 9, "U")]), epoch=2)["applied"]
    assert "__branch_audit" not in t.tags()

    # the branch is retired for WRITES but still readable
    with pytest.raises(ConcurrentCommitError):
        b.merge(_changes(spark, [("z", "z", 0, 99, "U")]), epoch=3)
    assert {r["k"] for r in b.snapshot().collect()} == {"a", "c"}

    # the parent keeps writing normally after the publish
    t.merge(_changes(spark, [("d", "4", 4, 6, "U")]), epoch=3)
    assert {r["k"] for r in t.snapshot().collect()} == {"a", "c", "d"}


def test_branch_inherits_epoch_ledger(spark, tmp_path):
    """Exactly-once holds across the fork: re-applying a parent-committed
    epoch on the branch no-ops (the fork copies the ledger)."""
    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"))
    assert not b.merge(_changes(spark, [("a", "XX", 0, 9, "U")]), epoch=0)["applied"]
    assert b.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)["applied"]


def test_fast_forward_rejects_diverged_parent(spark, tmp_path):
    """Iceberg's fast-forward precondition: if the parent moved since the
    fork, the publish raises and NOTHING changes on either table — the
    recovery is a fresh fork + idempotent re-apply."""
    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"))
    b.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)
    t.merge(_changes(spark, [("c", "3", 3, 3, "U")]), epoch=1)  # parent moves

    before = t.current_snapshot()["snapshot_id"]
    with pytest.raises(ConcurrentCommitError):
        t.fast_forward(b)
    assert t.current_snapshot()["snapshot_id"] == before
    assert {r["k"] for r in t.snapshot().collect()} == {"a", "c"}
    # branch not retired by the failed publish
    assert b.merge(_changes(spark, [("d", "4", 4, 4, "U")]), epoch=2)["applied"]

    # not-a-branch and wrong-parent guards
    other = _mk(spark, tmp_path, "other")
    with pytest.raises(ValueError):
        t.fast_forward(other)


def test_branch_pinned_against_parent_expiry(spark, tmp_path):
    """The fork base is tagged on the parent, so parent expire_snapshots
    cannot reclaim files a live branch still references; branch expiry walks
    only the branch's own data dir, so it can never delete parent files."""
    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"))
    b.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)

    # parent keeps evolving, compacts, expires aggressively
    t.merge(_changes(spark, [("a", "5", 5, 2, "U")]), epoch=1)
    t.compact()
    t.expire_snapshots(keep_last=1)
    # branch still reads its fork state + its own commits
    assert {r["k"]: r["v"] for r in b.snapshot().collect()} == {"a": "1", "b": "2"}

    # branch-side maintenance never reaches through ../ into the parent
    b.compact()
    b.expire_snapshots(keep_last=1)
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {"a": "5"}
    assert {r["k"]: r["v"] for r in b.snapshot().collect()} == {"a": "1", "b": "2"}


def test_fast_forward_adopts_schema_and_bucket_evolution(spark, tmp_path):
    """A branch that evolved schema (add_column) and physical layout
    (rebucket) publishes both: the parent's post-publish reads see the new
    column and subsequent parent merges route by the branch's bucket count."""
    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"))
    b.add_column("extra", "string")
    b.merge(
        spark.createDataFrame(
            [("b", "2", 2, 2, "x", "U")],
            "k string, v string, n int, lsn long, extra string, __op string",
        ),
        epoch=1,
    )
    b.rebucket(8)
    t.fast_forward(b)
    assert t.current_snapshot()["n_buckets"] == 8
    rows = {r["k"]: r["extra"] for r in t.snapshot().collect()}
    assert rows == {"a": None, "b": "x"}
    t.merge(
        spark.createDataFrame(
            [("c", "3", 3, 3, "y", "U")],
            "k string, v string, n int, lsn long, extra string, __op string",
        ),
        epoch=2,
    )
    assert t.lookup([("c",)]).collect()[0]["extra"] == "y"


def test_fast_forward_cdf_and_empty_branch(spark, tmp_path):
    """changes_between across the fast-forward commit emits exactly the
    branch's merged rows (its delta layers); publishing a zero-commit branch
    is a no-op."""
    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    pre = t.current_snapshot()["snapshot_id"]

    empty = t.branch(str(tmp_path / "empty"))
    assert not t.fast_forward(empty)["fast_forwarded"]

    b = t.branch(str(tmp_path / "br"))
    b.merge(_changes(spark, [("b", "2", 2, 2, "U"), ("a", None, None, 3, "D")]), epoch=1)
    t.fast_forward(b)
    feed = t.changes_between(pre)
    got = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert got == {("b", "U"), ("a", "D")}


def test_branch_name_collision_and_duplicate_fork(spark, tmp_path):
    """A live branch's name cannot be reused (the pin tag would be silently
    clobbered — the VACUUM-breaks-clones footgun); an existing table cannot
    be branch-targeted."""
    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    t.branch(str(tmp_path / "br"))
    with pytest.raises(ValueError):
        t.branch(str(tmp_path / "br2"), name="br")
    with pytest.raises(ValueError):
        t.branch(str(tmp_path / "br"))  # destination already a table


def test_fast_forward_stages_under_next_sid(spark, tmp_path):
    """The expire_snapshots concurrent-writer contract: in-flight files must
    live under directories numbered ABOVE the expirer's entry sid. So
    fast_forward publishes branch-local files under the parent's NEXT
    snapshot id's namespace, never under the branch's own small sids — and a
    lock-free expire racing the link phase (emulated here by staging the
    same way, then expiring at the pre-publish head) leaves them untouched."""
    import json
    import os
    import re

    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    t.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)
    pre_sid = t.current_snapshot()["snapshot_id"]

    # emulate an in-flight fast_forward's staged link racing an expire:
    # a file under the NEXT sid's namespace must not be a deletion candidate
    staged = os.path.join(t.data_dir, f"d{pre_sid + 1:08d}-deadbeef")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-inflight.parquet"), "w") as f:
        f.write("x")
    t.expire_snapshots(keep_last=1)
    assert os.path.exists(os.path.join(staged, "part-inflight.parquet"))
    os.remove(os.path.join(staged, "part-inflight.parquet"))
    os.rmdir(staged)

    b = t.branch(str(tmp_path / "br"))
    b.merge(_changes(spark, [("c", "3", 3, 3, "U")]), epoch=2)
    b.merge(_changes(spark, [("d", "4", 4, 4, "U")]), epoch=3)
    res = t.fast_forward(b)
    new_sid = res["snapshot_id"]

    with open(os.path.join(t.meta_dir, f"v{new_sid:08d}.json")) as f:
        snap = json.load(f)
    refs = [p for e in snap["buckets"].values() for p in e["files"]]
    for d in snap.get("deltas", []):
        refs += [p for fs in d["files"].values() for p in fs]
    pat = re.compile(r"^[sd](\d{8})(?:-[0-9a-f]{8})?$")
    for rel in refs:
        head = os.path.normpath(rel).split(os.sep)[0]
        m = pat.match(head)
        assert m, f"published ref {rel!r} escapes the snapshot-dir namespace"
        # inherited refs keep their (kept) old sids; everything the publish
        # itself wrote sits at exactly the new sid
        assert int(m.group(1)) <= pre_sid or int(m.group(1)) == new_sid, rel
    assert any(int(pat.match(os.path.normpath(r).split(os.sep)[0]).group(1)) == new_sid for r in refs)

    # and the published state reads correctly after an aggressive expire
    t.expire_snapshots(keep_last=1)
    assert {r["k"] for r in t.snapshot().collect()} == {"a", "b", "c", "d"}


def test_fast_forward_self_heals_lost_retire_marker(spark, tmp_path):
    """Crash window between the publish commit and the branch's retire
    marker: re-running fast_forward finds its own fast-forward commit on
    the walk back to the fork base and finishes the bookkeeping (retire +
    tag drop) instead of refusing as 'parent moved' — so Engine.publish
    resumes converge. A genuinely moved parent still refuses."""
    import json
    import os

    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"), name="audit")
    b.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)
    res = t.fast_forward(b)
    sid = res["snapshot_id"]

    # reconstruct the crash state: commit landed, bookkeeping lost
    os.remove(os.path.join(b.meta_dir, "retired.json"))
    t.create_tag("__branch_audit", 1)

    # parent even keeps committing after the crash — the walk still finds it
    t.merge(_changes(spark, [("c", "3", 3, 3, "U")]), epoch=2)

    res2 = t.fast_forward(b)
    assert res2["already_published"] and res2["snapshot_id"] == sid
    assert os.path.exists(os.path.join(b.meta_dir, "retired.json"))
    assert "__branch_audit" not in t.tags()
    with open(os.path.join(b.meta_dir, "retired.json")) as f:
        assert json.load(f)["snapshot_id"] == sid

    # a different branch whose publish never landed still refuses
    b2 = t.branch(str(tmp_path / "br2"), name="audit2")
    b2.merge(_changes(spark, [("d", "4", 4, 4, "U")]), epoch=3)
    t.merge(_changes(spark, [("e", "5", 5, 5, "U")]), epoch=4)
    with pytest.raises(ConcurrentCommitError):
        t.fast_forward(b2)


def test_concurrent_fast_forwards_exactly_one_wins(spark, tmp_path):
    """The publish CAS under real thread concurrency: four branches forked
    off the same base, each with its own audit epoch, race fast_forward.
    Exactly one publishes (the others raise ConcurrentCommitError and leave
    the parent untouched by their linked files — losers clean up on the
    spot); the parent state is base + exactly the winner's rows; the losers
    then converge by the documented protocol (fresh fork off the new head,
    idempotent re-apply, publish)."""
    import threading

    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("base", "0", 0, 1, "U")]), epoch=0)

    branches = []
    for i in range(4):
        b = t.branch(str(tmp_path / f"br{i}"), name=f"br{i}")
        b.merge(_changes(spark, [(f"k{i}", str(i), i, 10 + i, "U")]), epoch=10 + i)
        branches.append(b)

    wins, losses = [], []
    barrier = threading.Barrier(4)

    def publisher(i):
        barrier.wait()
        try:
            res = t.fast_forward(branches[i])
            wins.append((i, res))
        except ConcurrentCommitError:
            losses.append(i)

    threads = [threading.Thread(target=publisher, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert len(wins) == 1 and len(losses) == 3, (wins, losses)
    wi, wres = wins[0]
    assert wres["fast_forwarded"]
    keys = {r["k"] for r in t.snapshot().collect()}
    assert keys == {"base", f"k{wi}"}, keys
    # losers' staged hardlinks were removed on the failed CAS: every file on
    # disk under the parent's data dir is referenced by some live snapshot
    assert t.orphan_files().count() == 0

    # documented recovery: losers re-fork off the new head and re-apply
    for i in sorted(losses):
        b2 = t.branch(str(tmp_path / f"br{i}_retry"), name=f"br{i}_retry")
        b2.merge(_changes(spark, [(f"k{i}", str(i), i, 10 + i, "U")]), epoch=10 + i)
        t.fast_forward(b2)
    keys = {r["k"] for r in t.snapshot().collect()}
    assert keys == {"base", "k0", "k1", "k2", "k3"}
    # exactly-once held throughout: each epoch committed once on the parent
    assert sorted(t.committed_epochs()) == ["0", "10", "11", "12", "13"]


def test_drop_column_and_no_resurrection_on_readd(spark, tmp_path):
    """Iceberg drop-column semantics: the drop is metadata-only (reads stop
    projecting, compaction rewrites without the column), and RE-ADDING the
    same name allocates a fresh field id — previously-written values must
    never resurface under the re-added column (the drop/re-add corruption a
    name-based file mapping would hit). Key/order columns refuse to drop."""
    t = _mk(spark, tmp_path, "t")
    t.add_column("extra", "string")
    t.merge(
        spark.createDataFrame(
            [("a", "1", 1, 1, "x", "U"), ("b", "2", 2, 2, "y", "U")],
            "k string, v string, n int, lsn long, extra string, __op string",
        ),
        epoch=0,
    )
    assert {r["k"]: r["extra"] for r in t.snapshot().collect()} == {"a": "x", "b": "y"}

    t.drop_column("extra")
    assert "extra" not in t.snapshot().columns
    # merges against the narrowed schema keep working
    t.merge(_changes(spark, [("c", "3", 3, 3, "U")]), epoch=1)
    assert {r["k"] for r in t.snapshot().collect()} == {"a", "b", "c"}

    # re-add: new field id -> old 'x'/'y' values must NOT come back
    t.add_column("extra", "string")
    vals = {r["k"]: r["extra"] for r in t.snapshot().collect()}
    assert vals == {"a": None, "b": None, "c": None}, vals
    # and new writes to the re-added column land normally
    t.merge(
        spark.createDataFrame(
            [("d", "4", 4, 4, "z", "U")],
            "k string, v string, n int, lsn long, extra string, __op string",
        ),
        epoch=2,
    )
    assert {r["k"]: r["extra"] for r in t.snapshot().collect()} == {
        "a": None, "b": None, "c": None, "d": "z",
    }

    # compaction folds the history through the drop/re-add boundary intact
    t.compact()
    assert {r["k"]: r["extra"] for r in t.snapshot().collect()} == {
        "a": None, "b": None, "c": None, "d": "z",
    }

    # load-bearing columns refuse
    with pytest.raises(ValueError):
        t.drop_column("k")
    with pytest.raises(ValueError):
        t.drop_column("lsn")
    with pytest.raises(ValueError):
        t.drop_column("never_existed")


def test_consolidate_deltas_keeps_tombstones_out_of_order(spark, tmp_path):
    """Minor compaction retains delete tombstones, so a LATE-arriving batch
    carrying an OLDER event cannot resurrect a deleted key — the property
    full compact() cannot give (its resolved rewrite drops tombstones under
    the documented lsn-monotone contract, pinned here as the contrast)."""
    t = _mk(spark, tmp_path, "minor")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    t.merge(_changes(spark, [("a", None, None, 10, "D")]), epoch=1)

    res = t.consolidate_deltas()
    # only 'a's bucket is stacked (depth 2); 'b's single-layer bucket is
    # rightly left alone, surviving as its own layer
    assert res["consolidated"] and res["dirty_buckets"] == 1
    assert {r["k"] for r in t.snapshot().collect()} == {"b"}

    # the out-of-order batch: an upsert for 'a' OLDER than its delete
    t.merge(_changes(spark, [("a", "OLD", 0, 5, "U")]), epoch=2)
    assert {r["k"] for r in t.snapshot().collect()} == {"b"}, (
        "tombstone lost: older upsert resurrected the deleted key"
    )
    # and consolidating again still holds the line
    t.consolidate_deltas()
    assert {r["k"] for r in t.snapshot().collect()} == {"b"}

    # contrast pin: full compact() under the same out-of-order feed DOES
    # resurrect — the documented lsn-monotone contract, why streams must
    # use consolidate_deltas
    t2 = _mk(spark, tmp_path, "major")
    t2.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    t2.merge(_changes(spark, [("a", None, None, 10, "D")]), epoch=1)
    t2.compact()
    t2.merge(_changes(spark, [("a", "OLD", 0, 5, "U")]), epoch=2)
    assert {r["k"] for r in t2.snapshot().collect()} == {"a"}


def test_consolidate_deltas_sum_and_depth(spark, tmp_path):
    """Additive tables fold per-key sums into one layer (order-free by
    algebra); only buckets above max_delta_depth are touched, read results
    are unchanged, and the folded layers' files become expiry-sweepable."""
    from data_exchange_hl7_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "sums"),
        schema=[("k", "string"), ("n", "bigint")],
        key_cols=["k"],
        n_buckets=2,
        resolve="sum",
    )
    for e in range(4):
        t.merge(
            spark.createDataFrame(
                [("a", 1, "U"), ("b", 10, "U")], "k string, n long, __op string"
            ),
            epoch=e,
        )
    before = {r["k"]: r["n"] for r in t.snapshot().collect()}
    assert before == {"a": 4, "b": 40}
    res = t.consolidate_deltas(max_delta_depth=1)
    assert res["consolidated"]
    assert {r["k"]: r["n"] for r in t.snapshot().collect()} == before
    assert len(t.current_snapshot()["deltas"]) == 1
    # old layer files now unreferenced -> expiry reclaims them
    sweep = t.expire_snapshots(keep_last=1)
    assert sweep["removed_files"] > 0
    assert {r["k"]: r["n"] for r in t.snapshot().collect()} == before


def test_concurrent_same_branch_publish_single_winner(spark, tmp_path):
    """Two racers publishing the SAME branch: per-attempt staged-dir nonces
    mean the loser's cleanup can only ever remove its OWN links — the
    winner's committed manifest stays fully readable (with deterministic
    staged names, racer B would skip files racer A linked and then delete
    them on its CAS loss, corrupting the winner's snapshot)."""
    import threading

    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("base", "0", 0, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"), name="audit")
    b.merge(_changes(spark, [("k", "1", 1, 2, "U")]), epoch=1)

    results, errors = [], []
    barrier = threading.Barrier(2)

    def racer():
        barrier.wait()
        try:
            results.append(t.fast_forward(b))
        except ConcurrentCommitError as exc:
            errors.append(exc)

    threads = [threading.Thread(target=racer) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    # one CAS winner; the other either lost the CAS or (entering after the
    # winner finished) took the already-published self-heal path
    wins = [r for r in results if r.get("fast_forwarded")]
    healed = [r for r in results if r.get("already_published")]
    assert len(wins) == 1 and len(wins) + len(healed) + len(errors) == 2
    # the decisive check: the committed snapshot's files all exist
    assert {r["k"] for r in t.snapshot().collect()} == {"base", "k"}
    assert t.orphan_files().count() >= 0  # manifest fully resolvable
    # loser leftovers (if any) are unreferenced and sweepable
    t.merge(_changes(spark, [("z", "9", 9, 9, "U")]), epoch=2)
    t.expire_snapshots(keep_last=1)
    assert {r["k"] for r in t.snapshot().collect()} == {"base", "k", "z"}
    assert t.orphan_files().count() == 0


def test_fast_forward_refuses_when_branch_advances_mid_publish(spark, tmp_path):
    """The branch-head re-check under the branch's commit lock: if the
    branch advanced between the publish's snapshot read and the parent
    commit, the publish must refuse and change NOTHING (no parent commit,
    no retire marker) — otherwise the late branch epoch would be silently
    excluded from the parent yet locked out by the retire marker."""
    import os

    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"), name="audit")
    b.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)

    real = b.current_snapshot
    calls = {"n": 0}

    def advanced_on_recheck(*a, **k):
        calls["n"] += 1
        s = dict(real(*a, **k))
        if calls["n"] >= 2:  # the re-check inside the critical section
            s["snapshot_id"] += 1
        return s

    b.current_snapshot = advanced_on_recheck
    before = t.current_snapshot()["snapshot_id"]
    with pytest.raises(ConcurrentCommitError, match="advanced during"):
        t.fast_forward(b)
    b.current_snapshot = real

    assert t.current_snapshot()["snapshot_id"] == before
    assert not os.path.exists(os.path.join(b.meta_dir, "retired.json"))
    # retry (head now stable) publishes cleanly
    assert t.fast_forward(b)["fast_forwarded"]
    assert {r["k"] for r in t.snapshot().collect()} == {"a", "b"}


def test_fast_forward_expired_walk_raises_concurrent_error(spark, tmp_path):
    """When the parent genuinely moved AND the intermediate snapshot
    metadata is expired, the self-heal walk must surface the documented
    ConcurrentCommitError (rebase guidance), not a bare ValueError from the
    retention-horizon load."""
    t = _mk(spark, tmp_path, "parent")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"), name="audit")
    b.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)

    for i in range(3):  # parent moves on without the branch
        t.merge(_changes(spark, [(f"m{i}", str(i), i, 10 + i, "U")]), epoch=2 + i)
    t.expire_snapshots(keep_last=1)  # fork base stays pinned; middles expire

    with pytest.raises(ConcurrentCommitError, match="fork a new branch"):
        t.fast_forward(b)


def test_files_inspect_matches_snapshot_scan(spark):
    """files_inspect_read's internal consistency half (the external half is
    its DuckDB oracle): the metadata-only table stats must equal the same
    aggregates computed by actually scanning the snapshot — manifest bounds
    and footer row counts never drift from the data pages they describe."""
    from pyspark.sql import functions as F

    from data_exchange_hl7_spark import queries as q

    sf = "/root/testdata/sf0.001"
    meta = {r["metric"]: r["value"] for r in q.files_inspect_read(spark, sf).collect()}

    from data_exchange_hl7_spark.lake.table import LakeTable

    loc = q._LAKE_DEMO_CACHE[f"{sf}::inspect"]
    snap_df = LakeTable(spark, loc).snapshot()
    truth = snap_df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
        F.min("event_id").alias("min_last_event_id"),
        F.max("event_id").alias("max_last_event_id"),
    ).collect()[0]
    assert meta == {k: truth[k] for k in meta}


def _mk_sum(spark, tmp_path, name="addt"):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        schema=[("k", "string"), ("n", "bigint")],
        key_cols=["k"],
        n_buckets=2,
        resolve="sum",
    )


def test_additive_rejects_row_level_delete_update(spark, tmp_path):
    """delete_where/update_where would write RESOLVED ABSOLUTE rows as
    deltas; the additive read path sums every layer ignoring __op, so the
    value would double instead of disappearing. The table must refuse
    loudly — the additive contract is removal-as-negative-delta."""
    t = _mk_sum(spark, tmp_path)
    t.merge(
        spark.createDataFrame([("a", 10, "U")], "k string, n long, __op string"),
        epoch=0,
    )
    with pytest.raises(ValueError, match="negative delta"):
        t.delete_where("k = 'a'")
    with pytest.raises(ValueError, match="additive"):
        t.update_where("k = 'a'", {"n": "0"})
    # the documented path still works: a negative delta zeroes the key
    t.merge(
        spark.createDataFrame([("a", -10, "U")], "k string, n long, __op string"),
        epoch=1,
    )
    assert {r["k"]: r["n"] for r in t.snapshot().collect()} == {"a": 0}


def test_additive_with_tombstones_schema_stable(spark, tmp_path):
    """snapshot(with_tombstones=True) must expose __op on an additive table
    in EVERY compaction state (empty, live deltas, folded base) — the SCD2
    maintenance selects it unconditionally."""
    t = _mk_sum(spark, tmp_path)
    # state 1: brand-new table, no deltas at all
    assert "__op" in t.snapshot(with_tombstones=True).columns
    t.merge(
        spark.createDataFrame([("a", 1, "U")], "k string, n long, __op string"),
        epoch=0,
    )
    # state 2: live delta layers
    df = t.snapshot(with_tombstones=True)
    assert "__op" in df.columns
    assert [r["__op"] for r in df.collect()] == ["U"]
    # state 2b: delta layers exist but the requested bucket slice is empty
    empty_bucket = next(
        b for b in range(2)
        if str(b) not in t.current_snapshot()["deltas"][0]["files"]
    )
    assert "__op" in t.snapshot(buckets=[empty_bucket], with_tombstones=True).columns
    # state 3: folded base (compact drops deltas)
    t.compact()
    df = t.snapshot(with_tombstones=True)
    assert "__op" in df.columns and df.collect()[0]["__op"] == "U"


def test_concurrent_branch_forks_single_winner(spark, tmp_path):
    """Two concurrent forks of the SAME branch name: exactly one wins the
    pin; the loser raises instead of silently overwriting the winner's
    base tag (which would unpin it against expire_snapshots)."""
    import threading as th

    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    results = {}

    def fork(i):
        try:
            results[i] = t.branch(str(tmp_path / f"b{i}"), name="dup")
        except ValueError as e:
            results[i] = e

    ts = [th.Thread(target=fork, args=(i,)) for i in range(2)]
    [x.start() for x in ts]
    [x.join() for x in ts]
    winners = [r for r in results.values() if isinstance(r, LakeTable)]
    losers = [r for r in results.values() if isinstance(r, ValueError)]
    assert len(winners) == 1 and len(losers) == 1
    assert "already pinned" in str(losers[0])
    # the winner's pin survived
    assert "__branch_dup" in t.tags()


def test_merge_unpersists_on_failed_commit(spark, tmp_path):
    """A merge that loses the commit CAS (or any write failure) must not
    leave the persisted changes frame pinned in executor storage — the
    streaming runner retries merges in a loop."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    # force the CAS to lose: move current forward behind merge's back
    orig = t._write_snapshot

    def sabotage(snap, expected_parent):
        raise ConcurrentCommitError("synthetic race")

    t._write_snapshot = sabotage
    try:
        with pytest.raises(ConcurrentCommitError):
            t.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1)
    finally:
        t._write_snapshot = orig
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_incremental_compact_keeps_clean_delta_stats(spark, tmp_path):
    """Incremental compact rewrites dirty buckets only; the surviving delta
    layers of CLEAN buckets must keep their per-file min/max stats, or
    pruning silently dies for them until their own rewrite."""
    t = _mk(spark, tmp_path)
    # bucket-targeted merges: find keys landing in different buckets
    t.merge(_changes(spark, [(f"k{i}", "v", i, i, "U") for i in range(8)]), epoch=0)
    t.merge(_changes(spark, [("k0", "w", 9, 9, "U")]), epoch=1)
    t.merge(_changes(spark, [("k0", "x", 10, 10, "U")]), epoch=2)
    snap = t.current_snapshot()
    assert all(d.get("stats") for d in snap["deltas"])
    # depth threshold 2: only k0's bucket is dirty; others keep one layer
    r = t.compact(max_delta_depth=2)
    assert r["compacted"]
    snap = t.current_snapshot()
    assert snap["deltas"], "clean buckets' delta layers must survive"
    for d in snap["deltas"]:
        kept = {p for fs in d["files"].values() for p in fs}
        assert kept <= set(d.get("stats", {})), (
            "surviving delta files lost their stats in incremental compact"
        )


def test_expire_protects_pending_staged_snapshot(spark, tmp_path):
    """A pending WAP stage's data files must survive expire_snapshots even
    after another commit advances current past the staged sid — otherwise
    a concurrent snapshot(staged=token) audit reads deleted files."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    staged = t.merge(_changes(spark, [("b", "2", 2, 2, "U")]), epoch=1, publish=False)
    token = staged["staged"]
    # an unrelated commit moves current past the staged sid
    t.merge(_changes(spark, [("c", "3", 3, 3, "U")]), epoch=2)
    t.expire_snapshots(keep_last=1)
    # the staged state is still fully readable
    rows = {r["k"] for r in t.snapshot(staged=token).collect()}
    assert rows == {"a", "b"}
    # and it is not reported as orphaned either
    assert t.orphan_files().count() == 0


def test_schema_evolution_validates_and_skips_noops(spark, tmp_path):
    """rename/widen of a nonexistent column raise at the call site (not a
    silent no-op commit); idempotent add_column does not churn snapshots."""
    t = _mk(spark, tmp_path)
    sid0 = t.current_snapshot()["snapshot_id"]
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("contnet", "content_raw")
    with pytest.raises(ValueError, match="no column"):
        t.widen_column("nope", "bigint")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "n")
    t.add_column("extra", "string")
    sid1 = t.current_snapshot()["snapshot_id"]
    t.add_column("extra", "string")  # idempotent: no new snapshot
    assert t.current_snapshot()["snapshot_id"] == sid1 == sid0 + 1


def test_create_rejects_unsupported_types(spark, tmp_path):
    """Unsupported type strings fail at create(), not as a KeyError at the
    first read of an already-committed table."""
    with pytest.raises(ValueError, match="unsupported type"):
        LakeTable.create(
            spark, str(tmp_path / "bad"),
            schema=[("k", "string"), ("amt", "decimal")],
            key_cols=["k"],
        )
    # additive prefix trap: 'decimal' starts with a numeric-ish prefix but
    # has no spark type here
    with pytest.raises(ValueError):
        LakeTable.create(
            spark, str(tmp_path / "bad2"),
            schema=[("k", "string"), ("amt", "decimal")],
            key_cols=["k"], resolve="sum",
        )


def test_fast_forward_moved_parent_raises_value_error(spark, tmp_path):
    """A branch whose recorded parent path no longer exists must fail the
    parentage check with the designed ValueError, not FileNotFoundError."""
    import shutil as sh

    t = _mk(spark, tmp_path, name="parent_orig")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    b = t.branch(str(tmp_path / "br"), name="x")
    sh.move(str(tmp_path / "parent_orig"), str(tmp_path / "parent_moved"))
    moved = LakeTable(spark, str(tmp_path / "parent_moved"))
    with pytest.raises(ValueError, match="not a branch"):
        moved.fast_forward(b)


# ---------------------------------------------------------------- constraints


def test_check_constraint_quarantines_and_gates(spark, tmp_path):
    """Violating upserts divert to the quarantine sidecar; passing rows and
    tombstones merge normally. NULL evaluates as pass (SQL-standard CHECK)."""
    t = _mk(spark, tmp_path, name="cons")
    t.add_check_constraint("n_pos", "n > 0")
    r = t.merge(
        _changes(
            spark,
            [
                ("a", "ok", 1, 1, "U"),
                ("b", "bad", -5, 2, "U"),
                ("c", "nullpass", None, 3, "U"),
                ("d", None, -9, 4, "D"),  # tombstone: never checked
            ],
        ),
        epoch=0,
    )
    assert r["quarantined"] == 1
    live = {row["k"] for row in t.snapshot().collect()}
    assert live == {"a", "c"}
    qrows = t.quarantine().collect()
    assert len(qrows) == 1
    assert qrows[0]["k"] == "b" and qrows[0]["__violated"] == ["n_pos"]
    assert qrows[0]["epoch"] == 0


def test_check_constraint_multiple_names_and_redrive(spark, tmp_path):
    """A row violating two constraints lists both; a corrected re-merge of
    the quarantined payload lands it (the dead-letter re-drive shape)."""
    t = _mk(spark, tmp_path, name="cons2")
    t.add_check_constraint("n_pos", "n > 0")
    t.add_check_constraint("v_short", "length(v) <= 3")
    t.merge(_changes(spark, [("x", "toolong", -1, 1, "U")]), epoch=0)
    q = t.quarantine().collect()
    assert sorted(q[0]["__violated"]) == ["n_pos", "v_short"]
    # corrected re-drive under a new epoch
    r = t.merge(_changes(spark, [("x", "ok", 1, 2, "U")]), epoch=1)
    assert r["quarantined"] == 0
    assert {row["k"] for row in t.snapshot().collect()} == {"x"}


def test_check_constraint_replay_idempotent(spark, tmp_path):
    """Re-merging a committed epoch is a no-op: state AND quarantine remain
    byte-identical (the quarantine write precedes the commit, but per-epoch
    overwrite makes a crash-retry rewrite the identical rows)."""
    t = _mk(spark, tmp_path, name="cons3")
    t.add_check_constraint("n_pos", "n > 0")
    rows = [("a", "1", 1, 1, "U"), ("b", "2", -2, 2, "U")]
    t.merge(_changes(spark, rows), epoch=0)
    before = sorted(map(tuple, t.quarantine().collect()))
    r2 = t.merge(_changes(spark, rows), epoch=0)
    assert not r2["applied"]
    assert sorted(map(tuple, t.quarantine().collect())) == before
    assert {row["k"] for row in t.snapshot().collect()} == {"a"}


def test_add_check_constraint_validates_existing_rows(spark, tmp_path):
    from data_exchange_hl7_spark.lake.table import CheckConstraintError

    t = _mk(spark, tmp_path, name="cons4")
    t.merge(_changes(spark, [("a", "1", -1, 1, "U")]), epoch=0)
    with pytest.raises(CheckConstraintError):
        t.add_check_constraint("n_pos", "n > 0")
    # the refused constraint must not have been recorded
    assert t.check_constraints() == {}
    t.add_check_constraint("n_pos", "n > 0", validate_existing=False)
    assert t.check_constraints() == {"n_pos": "n > 0"}
    t.drop_check_constraint("n_pos")
    assert t.check_constraints() == {}


def test_check_constraint_rejected_on_additive_tables(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "add"),
        schema=[("k", "string"), ("n", "bigint")],
        key_cols=["k"], resolve="sum",
    )
    with pytest.raises(ValueError, match="additive"):
        t.add_check_constraint("n_pos", "n > 0")


def test_check_constraint_bad_expression_fails_fast(spark, tmp_path):
    t = _mk(spark, tmp_path, name="cons5")
    with pytest.raises(Exception):
        t.add_check_constraint("bad", "no_such_column > 0")
    assert t.check_constraints() == {}


def test_quarantine_empty_when_no_violations(spark, tmp_path):
    t = _mk(spark, tmp_path, name="cons6")
    t.add_check_constraint("n_pos", "n > 0")
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    assert t.quarantine().count() == 0
    cols = set(t.quarantine().columns)
    assert {"__op", "__violated", "epoch"} <= cols


def test_changes_with_preimages_classification(spark, tmp_path):
    """Delta readChangeFeed parity: insert / update pre+post / delete with
    pre-image values; a tombstone on a never-live key is dropped; metadata-
    only commits in the window are skipped without a job."""
    t = _mk(spark, tmp_path, name="cdfpre")
    t.merge(_changes(spark, [("a", "a1", 1, 1, "U"), ("b", "b1", 2, 2, "U")]), epoch=0)
    # window start: after the first merge (sid 1)
    t.set_properties({"note": "metadata-only commit inside the window"})
    t.merge(
        _changes(
            spark,
            [
                ("a", "a2", 9, 5, "U"),   # update -> pre(a1) + post(a2)
                ("b", None, None, 6, "D"),  # delete -> preimage b1
                ("c", "c1", 3, 7, "U"),   # insert
                ("z", None, None, 8, "D"),  # tombstone on absent key -> dropped
            ],
        ),
        epoch=1,
    )
    rows = {
        (r["k"], r["_change_type"]): (r["v"], r["n"])
        for r in t.changes_with_preimages(1).collect()
    }
    assert rows == {
        ("a", "update_preimage"): ("a1", 1),
        ("a", "update_postimage"): ("a2", 9),
        ("b", "delete"): ("b1", 2),
        ("c", "insert"): ("c1", 3),
    }
    # full-window read from table creation: epoch-0 rows are inserts
    all_rows = t.changes_with_preimages(0).collect()
    assert sum(1 for r in all_rows if r["_change_type"] == "insert") == 3


# ----------------------- generalized MERGE INTO ----------------------------


def _merge_into_clauses():
    return dict(
        when_matched=[
            {"condition": "s.v = 'kill'", "action": "delete"},
            {
                "condition": "s.lsn > t.lsn",
                "action": "update",
                "set": {"v": "s.v", "n": "t.n + 1", "lsn": "s.lsn"},
            },
        ],
        when_not_matched=[
            {"condition": "s.v <> 'kill'", "values": None},
        ],
        when_not_matched_by_source=[
            {"condition": "t.n >= 90", "action": "delete"},
            {"condition": None, "action": "update", "set": {"v": "'stale'"}},
        ],
    )


@FOLD
def test_merge_into_clause_algebra(spark, tmp_path, fold):
    """All five clause kinds + first-match-wins + fall-through, over delta
    layers and over a folded base."""
    t = _mk(spark, tmp_path)
    t.merge(
        _changes(
            spark,
            [
                ("a", "a1", 1, 10, "U"),   # matched, source newer -> update
                ("b", "b1", 2, 20, "U"),   # matched, source 'kill' -> delete
                ("c", "c1", 3, 30, "U"),   # matched, source older -> untouched
                ("d", "d1", 90, 40, "U"),  # not in source, n>=90 -> delete
                ("e", "e1", 5, 50, "U"),   # not in source -> v='stale'
            ],
        ),
        epoch=0,
    )
    if fold:
        t.compact()
    src = spark.createDataFrame(
        [
            ("a", "a2", 7, 99),
            ("b", "kill", 0, 98),
            ("c", "c2", 9, 1),     # lsn 1 < 30: falls through every clause
            ("f", "f1", 6, 97),    # insert
            ("g", "kill", 0, 96),  # unmatched 'kill': no insert clause -> dropped
        ],
        "k string, v string, n int, lsn long",
    )
    t.merge_into(src, epoch=1, **_merge_into_clauses())
    if fold:
        t.compact()
    rows = {r["k"]: (r["v"], r["n"], r["lsn"]) for r in t.snapshot().collect()}
    assert rows == {
        "a": ("a2", 2, 99),     # set n = t.n + 1
        "c": ("c1", 3, 30),     # untouched (no change row written at all)
        "e": ("stale", 5, 50),
        "f": ("f1", 6, 97),
    }
    # clause deletes ride the normal merge -> CDF-visible as D rows
    feed = {
        (r["k"], r["_change_type"])
        for r in t.changes_between(1).select("k", "_change_type").collect()
    }
    assert ("b", "D") in feed and ("d", "D") in feed
    # the fall-through row wrote NO change row: target state untouched
    assert not any(k == "c" for k, _ in feed)


def test_merge_into_epoch_idempotent_and_errors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "a1", 1, 10, "U")]), epoch=0)
    src = spark.createDataFrame([("a", "a2", 2, 99)], "k string, v string, n int, lsn long")
    r1 = t.merge_into(src, epoch=1, when_matched=[{"action": "delete"}])
    assert r1["applied"]
    # replaying the same epoch is a no-op even with different clauses
    r2 = t.merge_into(
        src, epoch=1, when_not_matched=[{"condition": None, "values": None}]
    )
    assert not r2["applied"]
    assert t.snapshot().count() == 0

    from data_exchange_hl7_spark.lake.table import MergeCardinalityError

    dup = spark.createDataFrame(
        [("x", "1", 1, 1), ("x", "2", 2, 2)], "k string, v string, n int, lsn long"
    )
    with pytest.raises(MergeCardinalityError):
        t.merge_into(dup, epoch=2, when_matched=[{"action": "delete"}])
    with pytest.raises(ValueError, match="key columns"):
        t.merge_into(
            src, epoch=2, when_matched=[{"action": "update", "set": {"k": "'z'"}}]
        )
    with pytest.raises(ValueError, match="at least one WHEN clause"):
        t.merge_into(src, epoch=2)
    # missing key column in source
    with pytest.raises(ValueError, match="lacks key columns"):
        t.merge_into(
            spark.createDataFrame([("v",)], "v string"),
            epoch=2,
            when_matched=[{"action": "delete"}],
        )


def test_merge_into_null_condition_is_no_match(spark, tmp_path):
    """SQL MERGE: a clause condition evaluating to NULL does not fire."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", None, 1, 10, "U")]), epoch=0)
    src = spark.createDataFrame([("a", None, 2, 99)], "k string, v string, n int, lsn long")
    t.merge_into(
        src,
        epoch=1,
        when_matched=[
            # s.v = t.v is NULL=NULL -> unknown -> clause must NOT fire
            {"condition": "s.v = t.v", "action": "delete"},
            {"condition": None, "action": "update", "set": {"n": "42"}},
        ],
    )
    rows = t.snapshot().collect()
    assert len(rows) == 1 and rows[0]["n"] == 42


def test_merge_into_insert_defaults_and_missing_cols(spark, tmp_path):
    """values=None inserts source columns by name; target columns absent
    from the source land as NULL."""
    t = _mk(spark, tmp_path)
    src = spark.createDataFrame([("a", 5)], "k string, lsn long")
    t.merge_into(src, epoch=0, when_not_matched=[{"condition": None, "values": None}])
    r = t.snapshot().collect()[0]
    assert (r["k"], r["v"], r["n"], r["lsn"]) == ("a", None, None, 5)


def test_merge_into_rejected_on_additive(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "add"), [("k", "string"), ("n", "bigint")],
        ["k"], n_buckets=2, resolve="sum",
    )
    src = spark.createDataFrame([("a", 1)], "k string, n long")
    with pytest.raises(ValueError, match="additive"):
        t.merge_into(src, when_matched=[{"action": "delete"}])


# ----------------------- column initial-defaults ---------------------------


@FOLD
def test_add_column_initial_default(spark, tmp_path, fold):
    """Files written before the column existed read back the default, not
    NULL; post-addition writes carry their explicit values; compaction
    materializes the default physically without changing the answer."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    if fold:
        t.compact()
    t.add_column("tier", "string", default="bronze")
    new = spark.createDataFrame(
        [("b", "2x", 2, 5, "gold", "U"), ("c", "3", 3, 6, None, "U")],
        "k string, v string, n int, lsn long, tier string, __op string",
    )
    t.merge(new, epoch=1)
    expect = {"a": "bronze", "b": "gold", "c": None}
    got = {r["k"]: r["tier"] for r in t.snapshot().collect()}
    assert got == expect
    # time travel to before the addition: no such column at all
    pre = t.snapshot(as_of=1)
    assert "tier" not in pre.columns
    # compaction rewrites under the current schema; answer unchanged
    t.compact()
    got = {r["k"]: r["tier"] for r in t.snapshot().collect()}
    assert got == expect


def test_readd_column_applies_new_default_everywhere(spark, tmp_path):
    """Drop + re-add allocates a new field id: the new default applies to
    ALL older files — even rows that had explicit values under the dropped
    column (no resurrection)."""
    t = _mk(spark, tmp_path)
    t.add_column("tier", "string", default="bronze")
    rows = spark.createDataFrame(
        [("a", "1", 1, 1, "gold", "U")],
        "k string, v string, n int, lsn long, tier string, __op string",
    )
    t.merge(rows, epoch=0)
    t.drop_column("tier")
    t.add_column("tier", "string", default="silver")
    assert t.snapshot().collect()[0]["tier"] == "silver"


def test_add_column_default_must_be_scalar(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="JSON-scalar"):
        t.add_column("bad", "string", default=["not", "scalar"])


# ----------------------- metadata-only COUNT(*) ----------------------------


def test_count_rows_metadata_only_paths(spark, tmp_path):
    """A folded table (no deltas) answers COUNT(*) from manifest record
    counts (zero data files opened); predicates and delta layers fall back
    to the exact read path; a fully-compacted table is metadata-exact
    again (physical rows == logical rows once tombstones fold)."""
    t = _mk(spark, tmp_path)
    t.merge(
        _changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U"), ("c", "3", 3, 3, "U")]),
        epoch=0,
    )
    t.compact()
    n, meta = t.count_rows()
    assert (n, meta) == (3, True)
    # predicate: falls back, still exact
    n, meta = t.count_rows(where=[("k", "=", "a")])
    assert (n, meta) == (1, False)

    m = _mk(spark, tmp_path, name="m")
    m.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    m.merge(_changes(spark, [("a", "9", 9, 5, "U"), ("b", None, None, 6, "D")]), epoch=1)
    # delta layers present: physical rows != logical rows -> exact path
    n, meta = m.count_rows()
    assert (n, meta) == (1, False)
    m.compact()
    n, meta = m.count_rows()
    assert (n, meta) == (1, True)
    # time travel composes (the merge's snapshot, before the fold)
    n, meta = t.count_rows(as_of=1)
    assert n == 3


def test_expire_snapshots_age_based_retention(spark, tmp_path):
    """older_than_s keeps recent ancestors beyond keep_last (union of the
    count and age windows); older_than_s=0 degrades to pure keep_last."""
    t = _mk(spark, tmp_path)
    for e in range(3):
        t.merge(_changes(spark, [(f"k{e}", "v", e, e, "U")]), epoch=e)
    all_sids = sorted(h["snapshot_id"] for h in t.history())
    assert len(all_sids) >= 4  # create + 3 merges
    # everything was committed seconds ago: a 1-hour age window keeps all
    r = t.expire_snapshots(keep_last=1, older_than_s=3600)
    assert r["removed_snapshots"] == 0 and r["removed_files"] == 0
    assert sorted(r["kept_snapshots"]) == all_sids
    oldest = all_sids[0]
    assert t.snapshot(as_of=oldest).count() >= 0  # still readable
    # age window 0: pure keep_last — every ancestor expires
    r2 = t.expire_snapshots(keep_last=1, older_than_s=0)
    assert r2["removed_snapshots"] == len(all_sids) - 1
    with pytest.raises(Exception):
        t.snapshot(as_of=oldest).count()


def test_commit_summary_in_snapshots_table(spark, tmp_path):
    """Every commit records an Iceberg-style summary (file-set diff vs the
    parent + added record counts from the manifest stats), surfaced through
    meta_snapshots — metadata math only, never a data read."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 1, 1, "U"), ("b", "2", 2, 2, "U")]), epoch=0)
    t.merge(_changes(spark, [("c", "3", 3, 3, "U")]), epoch=1)
    rows = {r["snapshot_id"]: r for r in t.meta_snapshots().collect()}
    sids = sorted(rows)
    first, second = rows[sids[1]], rows[sids[2]]
    assert first["added_records"] == 2 and first["removed_files"] == 0
    assert second["added_records"] == 1
    assert second["added_files"] >= 1
    # compaction rewrites: removed > 0, added records = surviving rows
    t.compact()
    rows_after = {r["snapshot_id"]: r for r in t.meta_snapshots().collect()}
    newest = rows_after[max(rows_after)]
    assert newest["removed_files"] > 0
    assert newest["added_records"] == 3


def test_merge_into_respects_check_constraints(spark, tmp_path):
    """A clause UPDATE that produces a constraint-violating row is diverted
    to the quarantine sidecar instead of merging — the compiled change
    frame rides the same gate as a plain merge, so MERGE INTO cannot
    poison current state."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "ok", 1, 1, "U"), ("b", "ok", 2, 2, "U")]), epoch=0)
    t.add_check_constraint("v_not_bad", "v <> 'bad'")
    src = spark.createDataFrame(
        [("a", "bad", 9, 9), ("b", "fine", 8, 8)],
        "k string, v string, n int, lsn long",
    )
    r = t.merge_into(
        src,
        when_matched=[
            {"condition": None, "action": "update",
             "set": {"v": "s.v", "n": "s.n", "lsn": "s.lsn"}},
        ],
        epoch=1,
    )
    assert r["quarantined"] == 1
    rows = {x["k"]: (x["v"], x["n"]) for x in t.snapshot().collect()}
    # a's violating update was diverted: previous value survives
    assert rows == {"a": ("ok", 1), "b": ("fine", 8)}
    q = {x["k"]: x["__violated"] for x in t.quarantine().collect()}
    assert q == {"a": ["v_not_bad"]}


def test_merge_into_validates_clauses(spark, tmp_path):
    """Misspelled actions, unknown columns, and key-less inserts fail
    loudly (Delta parity) instead of silently doing the wrong thing."""
    t = _mk(spark, tmp_path)
    src = spark.createDataFrame([("a", "1", 1, 1)], "k string, v string, n int, lsn long")
    with pytest.raises(ValueError, match="action must be"):
        t.merge_into(src, when_matched=[{"action": "DELETE"}])
    with pytest.raises(ValueError, match="unknown columns"):
        t.merge_into(src, when_matched=[{"action": "update", "set": {"contnet": "s.v"}}])
    with pytest.raises(ValueError, match="must cover key columns"):
        t.merge_into(src, when_not_matched=[{"values": {"v": "'x'"}}])
    with pytest.raises(ValueError, match="action must be 'insert'"):
        t.merge_into(src, when_not_matched=[{"action": "delete"}])


def test_add_column_default_type_and_conflict_rejected(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="not compatible"):
        t.add_column("n2", "bigint", default="legacy")
    t.add_column("tier", "string", default="bronze")
    t.add_column("tier", "string", default="bronze")  # identical: no-op
    with pytest.raises(ValueError, match="immutable"):
        t.add_column("tier", "string", default="gold")


def test_commit_summary_zero_file_commit_reports_zero(spark, tmp_path):
    """A metadata-only commit reports added_records 0, not NULL — NULL is
    reserved for commits whose added files predate row-count stats."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("a", "1", 1, 1, "U")]), epoch=0)
    t.set_properties({"note": "x"})
    newest = max(
        t.meta_snapshots().collect(), key=lambda r: r["snapshot_id"]
    )
    assert newest["added_files"] == 0 and newest["added_records"] == 0
