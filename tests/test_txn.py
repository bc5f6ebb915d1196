"""Atomic multi-table transaction tests: happy path, every crash window,
conflict compensation, replay idempotence (lake/txn.py)."""

import pytest
from pyspark.sql import functions as F

from data_exchange_hl7_spark.lake.table import ConcurrentCommitError, LakeTable
from data_exchange_hl7_spark.lake.txn import (
    MultiTableTransaction,
    TransactionStateError,
)

SCHEMA = [("k", "string"), ("v", "string"), ("lsn", "bigint")]


def _mk(spark, tmp_path, name):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, ["k"], n_buckets=4,
        order_col="lsn",
    )


def _ch(spark, rows):
    return spark.createDataFrame(rows, "k string, v string, lsn long, __op string")


def _pair(spark, tmp_path):
    a = _mk(spark, tmp_path, "a")
    b = _mk(spark, tmp_path, "b")
    a.merge(_ch(spark, [("k1", "a0", 1, "U")]), epoch=0)
    b.merge(_ch(spark, [("k1", "b0", 1, "U")]), epoch=0)
    return a, b


def test_txn_commit_publishes_both(spark, tmp_path):
    a, b = _pair(spark, tmp_path)
    txn = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    txn.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    # nothing visible before the decide point
    assert a.snapshot().collect()[0]["v"] == "a0"
    txn.stage(b, _ch(spark, [("k1", "b1", 2, "U")]), epoch=1)
    r = txn.commit()
    assert len(r["published"]) == 2
    assert a.snapshot().collect()[0]["v"] == "a1"
    assert b.snapshot().collect()[0]["v"] == "b1"
    assert "1" in a.committed_epochs() and "1" in b.committed_epochs()
    # a finished txn refuses further use
    with pytest.raises(TransactionStateError):
        txn.stage(a, _ch(spark, []), epoch=2)


def test_txn_crash_before_decide_leaves_no_trace(spark, tmp_path):
    a, b = _pair(spark, tmp_path)
    txn = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    txn.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    txn.stage(b, _ch(spark, [("k1", "b1", 2, "U")]), epoch=1)
    # "crash": the txn object is dropped without commit; recovery sees no
    # manifest and publishes nothing
    assert MultiTableTransaction.recover(spark, str(tmp_path / "_txn")) == []
    assert a.snapshot().collect()[0]["v"] == "a0"
    assert b.snapshot().collect()[0]["v"] == "b0"
    assert "1" not in a.committed_epochs()


def test_txn_crash_after_decide_rolls_forward(spark, tmp_path):
    a, b = _pair(spark, tmp_path)
    txn = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    txn.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    txn.stage(b, _ch(spark, [("k1", "b1", 2, "U")]), epoch=1)
    txn._decide()  # crash exactly at the commit point
    assert a.snapshot().collect()[0]["v"] == "a0"  # not yet published
    rec = MultiTableTransaction.recover(spark, str(tmp_path / "_txn"))
    assert len(rec) == 1 and len(rec[0]["published"]) == 2
    assert a.snapshot().collect()[0]["v"] == "a1"
    assert b.snapshot().collect()[0]["v"] == "b1"
    # recovery is idempotent
    assert MultiTableTransaction.recover(spark, str(tmp_path / "_txn")) == []


def test_txn_crash_mid_publish_rolls_forward_remainder(spark, tmp_path):
    a, b = _pair(spark, tmp_path)
    txn = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    txn.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    txn.stage(b, _ch(spark, [("k1", "b1", 2, "U")]), epoch=1)
    txn._decide()
    # publish only the FIRST entry, then "crash"
    e0 = txn._entries[0]
    LakeTable(spark, e0["location"]).publish_staged(e0["staged"])
    rec = MultiTableTransaction.recover(spark, str(tmp_path / "_txn"))
    assert len(rec) == 1 and len(rec[0]["published"]) == 2
    assert a.snapshot().collect()[0]["v"] == "a1"
    assert b.snapshot().collect()[0]["v"] == "b1"


def test_txn_conflict_compensates_all_or_nothing(spark, tmp_path):
    a, b = _pair(spark, tmp_path)
    txn = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    txn.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    txn.stage(b, _ch(spark, [("k1", "b1", 2, "U")]), epoch=1)
    # a foreign commit lands on b between stage and publish -> b's CAS fails
    b.merge(_ch(spark, [("k9", "intruder", 5, "U")]), epoch=77)
    with pytest.raises(ConcurrentCommitError):
        txn.commit()
    # compensation: a was published first, then rolled back — final state
    # shows NO trace of the transaction on either table
    assert a.snapshot().collect()[0]["v"] == "a0"
    assert "1" not in a.committed_epochs()
    vals = {r["k"]: r["v"] for r in b.snapshot().collect()}
    assert vals == {"k1": "b0", "k9": "intruder"}
    # the manifest is retired as aborted; recovery has nothing to do
    assert MultiTableTransaction.recover(spark, str(tmp_path / "_txn")) == []


def test_txn_abort_discards_staged(spark, tmp_path):
    a, b = _pair(spark, tmp_path)
    txn = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    txn.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    txn.abort()
    assert a.snapshot().collect()[0]["v"] == "a0"
    # staged metadata reclaimed
    import os

    meta = [f for f in os.listdir(str(tmp_path / "a" / "_meta")) if f.startswith("staged-")]
    assert meta == []
    with pytest.raises(TransactionStateError):
        txn.commit()


def test_txn_replay_after_rollforward_noops(spark, tmp_path):
    """Re-running the whole transaction after a completed roll-forward:
    every member's epoch is committed, so the stages no-op and commit
    publishes nothing new."""
    a, b = _pair(spark, tmp_path)
    txn = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    txn.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    txn.stage(b, _ch(spark, [("k1", "b1", 2, "U")]), epoch=1)
    txn.commit()
    sid_a = a.current_snapshot()["snapshot_id"]
    txn2 = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    r1 = txn2.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    r2 = txn2.stage(b, _ch(spark, [("k1", "b1", 2, "U")]), epoch=1)
    assert not r1["applied"] and not r2["applied"]
    out = txn2.commit()
    assert out["published"] == []
    assert a.current_snapshot()["snapshot_id"] == sid_a


# ------------------------------------------------ engine atomic epochs


def _engine_pair(spark, tmp_path):
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    events = change_events(spark, 3000)
    return eng, table, stats_t, events


def test_engine_atomic_epoch_commits_main_and_derived(spark, tmp_path):
    eng, table, stats_t, events = _engine_pair(spark, tmp_path)
    r = eng.apply_epoch(events, table, epoch=0, collect_metrics=False, atomic=True)
    assert r["applied"] and "txn_id" in r
    main_keys = {
        (x["repo"], x["path"]) for x in table.snapshot().select("repo", "path").collect()
    }
    derived_keys = {
        (x["repo"], x["path"])
        for x in stats_t.snapshot().select("repo", "path").collect()
    }
    assert main_keys == derived_keys and main_keys
    assert "0" in table.committed_epochs() and "0" in stats_t.committed_epochs()
    # replay no-ops
    r2 = eng.apply_epoch(events, table, epoch=0, collect_metrics=False, atomic=True)
    assert not r2.get("applied")


def test_engine_atomic_epoch_crash_at_decide_recovers(spark, tmp_path, monkeypatch):
    """Crash exactly at the decide point: neither table published; the NEXT
    atomic apply first rolls the decided transaction forward, then no-ops
    its own merge — main and derived move together, never apart."""
    from data_exchange_hl7_spark.lake import txn as txnmod

    eng, table, stats_t, events = _engine_pair(spark, tmp_path)

    real_commit = txnmod.MultiTableTransaction.commit

    def crash_commit(self):
        self._decide()
        raise RuntimeError("simulated crash after decide")

    monkeypatch.setattr(txnmod.MultiTableTransaction, "commit", crash_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.apply_epoch(events, table, epoch=0, collect_metrics=False, atomic=True)
    # nothing visible yet on either output
    assert "0" not in table.committed_epochs()
    assert "0" not in stats_t.committed_epochs()
    monkeypatch.setattr(txnmod.MultiTableTransaction, "commit", real_commit)
    r = eng.apply_epoch(events, table, epoch=0, collect_metrics=False, atomic=True)
    # the recovery published the decided txn; this apply's own merge no-ops
    assert "0" in table.committed_epochs() and "0" in stats_t.committed_epochs()
    main_keys = {
        (x["repo"], x["path"]) for x in table.snapshot().select("repo", "path").collect()
    }
    derived_keys = {
        (x["repo"], x["path"])
        for x in stats_t.snapshot().select("repo", "path").collect()
    }
    assert main_keys == derived_keys and main_keys


def test_engine_atomic_epoch_crash_before_decide_leaves_no_trace(
    spark, tmp_path, monkeypatch
):
    from data_exchange_hl7_spark.lake import txn as txnmod

    eng, table, stats_t, events = _engine_pair(spark, tmp_path)

    def crash_commit(self):
        raise RuntimeError("simulated crash before decide")

    real_commit = txnmod.MultiTableTransaction.commit
    monkeypatch.setattr(txnmod.MultiTableTransaction, "commit", crash_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.apply_epoch(events, table, epoch=0, collect_metrics=False, atomic=True)
    monkeypatch.setattr(txnmod.MultiTableTransaction, "commit", real_commit)
    assert "0" not in table.committed_epochs()
    assert "0" not in stats_t.committed_epochs()
    # clean re-run stages fresh and commits both
    r = eng.apply_epoch(events, table, epoch=0, collect_metrics=False, atomic=True)
    assert r["applied"]
    assert "0" in table.committed_epochs() and "0" in stats_t.committed_epochs()


def test_engine_atomic_epoch_with_constraints_and_aggregate(spark, tmp_path):
    """Atomic + constraint gate + additive aggregate view together: the
    published trio agrees on the gated change rows."""
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    table.add_check_constraint("size_mod3", "size_bytes % 3 <> 0")
    view = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 3000)
    r = eng.apply_epoch(events, table, epoch=0, collect_metrics=False, atomic=True)
    assert r["applied"] and r.get("quarantined", 0) > 0
    got = {x["repo"]: (x["n_files"], x["total_bytes"]) for x in view.snapshot().collect()}
    exp = {
        x["repo"]: (x["n_files"], x["total_bytes"])
        for x in table.snapshot()
        .groupBy("repo")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.col("size_bytes").cast("bigint")).alias("total_bytes"),
        )
        .collect()
    }
    assert got == exp


@pytest.mark.parametrize("crash_after", [0, 1, 2, 3])
def test_txn_all_or_nothing_at_every_crash_point(spark, tmp_path, crash_after):
    """Sweep the crash point across a 3-table publish sequence (crash after
    k successful publishes, k = 0..3): recovery must always land ALL three
    tables at the post state — the decide point was written, so the only
    legal outcome is roll-forward, regardless of where the crash fell."""
    tables = []
    for i in range(3):
        t = _mk(spark, tmp_path, f"t{i}")
        t.merge(_ch(spark, [("k1", f"v{i}_old", 1, "U")]), epoch=0)
        tables.append(t)
    txn = MultiTableTransaction(spark, str(tmp_path / "_txn"))
    for i, t in enumerate(tables):
        txn.stage(t, _ch(spark, [("k1", f"v{i}_new", 2, "U")]), epoch=1)
    txn._decide()
    # publish the first k entries manually, then "crash"
    for e in txn._entries[:crash_after]:
        LakeTable(spark, e["location"]).publish_staged(e["staged"])
    rec = MultiTableTransaction.recover(spark, str(tmp_path / "_txn"))
    assert len(rec) == 1 and len(rec[0]["published"]) == 3
    for i, t in enumerate(tables):
        assert t.snapshot().collect()[0]["v"] == f"v{i}_new"
        assert "1" in t.committed_epochs()
    assert MultiTableTransaction.recover(spark, str(tmp_path / "_txn")) == []


def test_consistent_snapshot_ids_pin_across_mid_publish(spark, tmp_path):
    """A reader pinned to consistent_snapshot_ids sees the last atomic
    outcome even while a newer transaction is mid-publish (one member
    published, the other still staged)."""
    from data_exchange_hl7_spark.lake.txn import consistent_snapshot_ids

    a, b = _pair(spark, tmp_path)
    txn_dir = str(tmp_path / "_txn")
    txn1 = MultiTableTransaction(spark, txn_dir)
    txn1.stage(a, _ch(spark, [("k1", "a1", 2, "U")]), epoch=1)
    txn1.stage(b, _ch(spark, [("k1", "b1", 2, "U")]), epoch=1)
    txn1.commit()
    pins = consistent_snapshot_ids(txn_dir)
    assert set(pins) == {a.location, b.location}

    # txn2 decides and publishes ONLY its first member (mid-publish window)
    txn2 = MultiTableTransaction(spark, txn_dir)
    txn2.stage(a, _ch(spark, [("k1", "a2", 3, "U")]), epoch=2)
    txn2.stage(b, _ch(spark, [("k1", "b2", 3, "U")]), epoch=2)
    txn2._decide()
    e0 = txn2._entries[0]
    LakeTable(spark, e0["location"]).publish_staged(e0["staged"])

    # current reads are torn (a at v2, b at v1); pinned reads are not
    assert a.snapshot().collect()[0]["v"] == "a2"
    assert b.snapshot().collect()[0]["v"] == "b1"
    pins = consistent_snapshot_ids(txn_dir)  # still txn1: txn2 not done
    va = a.snapshot(as_of=pins[a.location]).collect()[0]["v"]
    vb = b.snapshot(as_of=pins[b.location]).collect()[0]["v"]
    assert (va, vb) == ("a1", "b1")

    # finish txn2 via recovery; the pin advances
    rec = MultiTableTransaction.recover(spark, txn_dir)
    assert rec and len(rec[0]["published"]) == 2
    pins = consistent_snapshot_ids(txn_dir)
    assert a.snapshot(as_of=pins[a.location]).collect()[0]["v"] == "a2"
    assert b.snapshot(as_of=pins[b.location]).collect()[0]["v"] == "b2"


def test_publish_adopts_branch_quarantine(spark, tmp_path):
    """An audit branch with a firing CHECK constraint quarantines on the
    BRANCH; Engine.publish must adopt that sidecar so the parent's
    quarantine()/re-drive sees the diverted rows for the published epoch."""
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import Engine
    import pyspark.sql.functions as SF

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    table.add_check_constraint("size_mod3", "size_bytes % 3 <> 0")
    ev = change_events(spark, 2000)
    eng.apply_epoch(ev.filter(SF.col("lsn") < 1000), table, epoch=0,
                    collect_metrics=False)
    audit = table.branch(eng.table_path("repo_files_audit"), name="audit")
    r = eng.apply_epoch(ev.filter(SF.col("lsn") >= 1000), audit, epoch=1,
                        collect_metrics=False)
    assert r["quarantined"] > 0
    before = {x["epoch"] for x in table.quarantine().select("epoch").distinct().collect()}
    assert 1 not in before
    eng.publish(table, audit)
    after = {x["epoch"] for x in table.quarantine().select("epoch").distinct().collect()}
    assert {0, 1} <= after
    n_e1 = table.quarantine().filter(SF.col("epoch") == 1).count()
    assert n_e1 == r["quarantined"]


def test_atomic_epochs_keep_txn_dir_bounded(spark, tmp_path):
    """Every atomic epoch decides one manifest; once a newer transaction is
    done, the older done manifests and their markers are deleted, so the
    per-epoch recover scan stays O(1). The survivor is the one
    consistent_snapshot_ids reads."""
    import os

    from data_exchange_hl7_spark.lake.txn import consistent_snapshot_ids

    eng, table, stats_t, events = _engine_pair(spark, tmp_path)
    for e in range(5):
        part = events.filter((F.col("lsn") >= 600 * e) & (F.col("lsn") < 600 * (e + 1)))
        assert eng.apply_epoch(part, table, epoch=e, collect_metrics=False, atomic=True)["applied"]
    txn_dir = str(tmp_path / "wh" / "_txn")
    names = sorted(os.listdir(txn_dir))
    assert len(names) == 2 and names[0][:-5] == names[1][:-5], names
    assert MultiTableTransaction.recover(spark, txn_dir) == []
    assert consistent_snapshot_ids(txn_dir) == {
        table.location: table.current_snapshot()["snapshot_id"],
        stats_t.location: stats_t.current_snapshot()["snapshot_id"],
    }


def test_txn_prune_never_deletes_an_unfinished_manifest(spark, tmp_path):
    """A decided manifest without a .done marker survives every prune: it
    is what recover still has to finish."""
    import os

    a, b = _pair(spark, tmp_path)
    txn_dir = str(tmp_path / "_txn")
    stuck = MultiTableTransaction(spark, txn_dir)
    stuck.stage(a, _ch(spark, [("k2", "a1", 2, "U")]), epoch=1)
    stuck._decide()  # crash right after the commit point
    for e in (1, 2):
        txn = MultiTableTransaction(spark, txn_dir)
        txn.stage(b, _ch(spark, [("k1", f"b{e}", 1 + e, "U")]), epoch=e)
        txn.commit()
    names = set(os.listdir(txn_dir))
    assert f"txn-{stuck.txn_id}.json" in names and len(names) == 3, names
    out = MultiTableTransaction.recover(spark, txn_dir)
    assert [o["txn_id"] for o in out] == [stuck.txn_id] and out[0]["published"]
    assert {r["k"] for r in a.snapshot().collect()} == {"k1", "k2"}
    assert len(os.listdir(txn_dir)) == 2
