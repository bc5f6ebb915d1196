"""Transaction-boundary gate (streaming/txn_gate.py): Debezium-style
transaction metadata on the WAL — only committed producer transactions
apply, each in the epoch of its commit position; incomplete transactions
are withheld entirely. Runner integration must stay exactly-once under
kill-and-resume and equal a plain apply of the committed subset."""

import json
import os

import pytest
from pyspark.sql import functions as F

from data_exchange_hl7_spark.datagen import change_events
from data_exchange_hl7_spark.engine import Engine
from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner
from data_exchange_hl7_spark.streaming.txn_gate import (
    APPLY_LSN,
    TXN_EVENTS_KEY,
    TXN_ID_KEY,
    gate_transactions,
    txn_dim,
)


def _gate_fixture(spark):
    rows = [
        # txn 1: complete (2 declared, 2 present), commit position 12
        (1, 2, 5),
        (1, 2, 12),
        # txn 2: incomplete (2 declared, 1 present) -> withheld
        (2, 2, 8),
        # autocommit singleton: applies at its own lsn
        (None, None, 3),
    ]
    return spark.createDataFrame(rows, "txn_id long, txn_events long, lsn long")


def test_gate_assigns_commit_position_and_withholds(spark):
    df = _gate_fixture(spark)
    gated, dim = gate_transactions(df)
    got = {r["lsn"]: r[APPLY_LSN] for r in gated.collect()}
    # both events of txn 1 apply at the commit position (12); the
    # incomplete txn 2 event is gone; the singleton applies at its own lsn
    assert got == {5: 12, 12: 12, 3: 3}
    d = {r["txn_id"]: r for r in dim.collect()}
    assert d[1]["committed"] and d[1]["apply_lsn"] == 12
    assert not d[2]["committed"] and d[2]["apply_lsn"] is None


def test_gate_span_bound_verified(spark):
    df = _gate_fixture(spark)
    # txn 1 spans 12 - 5 = 7 lsns: a declared bound of 6 must fail loudly
    with pytest.raises(ValueError, match="max_txn_span"):
        gate_transactions(df, max_txn_span=6)
    gated, _ = gate_transactions(df, max_txn_span=7)
    assert gated.count() == 3


def test_dim_reuse_skips_reaggregation(spark):
    df = _gate_fixture(spark)
    dim = txn_dim(df)
    gated, dim_back = gate_transactions(df, dim=dim)
    assert dim_back is dim
    assert gated.count() == 3


# ---------------------- runner integration (envelope WAL) -------------------

TXN_SIZE = 7
DROP_MOD = 101


def _with_txn_metadata(events):
    """Group envelope events into transactions of TXN_SIZE consecutive lsns,
    stamp Debezium-style (txn_id, declared count) into supporting_metadata,
    then withhold every lsn % DROP_MOD == 0 event (producer crash mid-txn).
    Returns (visible, committed_only): the gated run over `visible` must
    land exactly the plain apply of `committed_only`."""
    ev = events.withColumn("__tid", (F.col("lsn") / TXN_SIZE).cast("long"))
    declared = ev.groupBy("__tid").agg(F.count(F.lit(1)).alias("__n"))
    ev = ev.join(declared, "__tid").withColumn(
        "supporting_metadata",
        F.map_concat(
            F.coalesce(
                "supporting_metadata",
                F.create_map().cast("map<string,string>"),
            ),
            F.create_map(
                F.lit(TXN_ID_KEY),
                F.col("__tid").cast("string"),
                F.lit(TXN_EVENTS_KEY),
                F.col("__n").cast("string"),
            ),
        ),
    )
    visible = ev.filter(F.col("lsn") % DROP_MOD != 0)
    lost_tids = (
        ev.filter(F.col("lsn") % DROP_MOD == 0).select("__tid").distinct()
    )
    committed_only = visible.join(lost_tids, "__tid", "left_anti")
    return (
        visible.drop("__tid", "__n"),
        committed_only.drop("__tid", "__n"),
    )


def _state(table):
    return {
        (r["repo"], r["path"]): (r["content_sha256"], r["commit"])
        for r in table.snapshot().collect()
    }


def test_runner_txn_boundaries_applies_committed_subset(spark, tmp_path):
    events = change_events(spark, 3000).persist()
    visible, committed_only = _with_txn_metadata(events)
    visible = visible.persist()
    committed_only = committed_only.persist()
    try:
        eng = Engine(spark, str(tmp_path / "gated"), n_buckets=8)
        t = eng.snapshot_table("repo_files")
        runner = MicroBatchRunner(
            eng, epoch_size=1000, txn_boundaries=True, max_txn_span=TXN_SIZE
        )
        stats = runner.run(visible, t)
        assert any(s.get("applied") for s in stats)
        assert runner.held_txns and runner.held_txns > 0

        # control: a plain (ungated) apply of exactly the committed subset
        eng2 = Engine(spark, str(tmp_path / "plain"), n_buckets=8)
        t2 = eng2.snapshot_table("repo_files")
        MicroBatchRunner(eng2, epoch_size=1000).run(committed_only, t2)
        assert _state(t) == _state(t2)

        # determinism + exactly-once: a full gated re-run is a no-op
        stats2 = MicroBatchRunner(
            eng, epoch_size=1000, txn_boundaries=True
        ).run(visible, t)
        assert all(s.get("resumed_skip") for s in stats2)
    finally:
        # release every persisted frame: a leaked cache here shows up as a
        # persisted-RDD count in whichever test runs next
        for df in (events, visible, committed_only):
            df.unpersist()


def test_runner_txn_boundaries_kill_and_resume(spark, tmp_path):
    events = change_events(spark, 2000).persist()
    try:
        visible, committed_only = _with_txn_metadata(events)
        eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
        t = eng.snapshot_table("repo_files")
        mk = lambda: MicroBatchRunner(eng, epoch_size=500, txn_boundaries=True)
        mk().run(visible, t, fail_after_epoch=1)  # crash mid-stream
        mk().run(visible, t)  # resume must converge, skipping committed

        eng2 = Engine(spark, str(tmp_path / "plain"), n_buckets=8)
        t2 = eng2.snapshot_table("repo_files")
        MicroBatchRunner(eng2, epoch_size=500).run(committed_only, t2)
        assert _state(t) == _state(t2)
    finally:
        events.unpersist()


def test_stream_apply_txn_boundaries_cross_poll(spark, tmp_path):
    """A producer transaction split across two availableNow polls must be
    withheld by the first poll (pending sidecar), land atomically in the
    second, and the final state must equal a plain apply of the committed
    subset. Truncated transactions never land."""
    import os

    from data_exchange_hl7_spark.streaming.stream_ingest import stream_apply

    events = change_events(spark, 2000).persist()
    visible, committed_only = _with_txn_metadata(events)
    visible = visible.persist()
    committed_only = committed_only.persist()
    try:
        src = str(tmp_path / "wal")
        ckpt = str(tmp_path / "ckpt")
        cut = 1000
        # transactions are TXN_SIZE-consecutive-lsn blocks: the block
        # containing `cut` straddles the two polls
        block_lo = (cut // TXN_SIZE) * TXN_SIZE
        visible.filter(F.col("lsn") < cut).write.mode("overwrite").parquet(src)

        eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
        t = eng.snapshot_table("repo_files")
        stream_apply(
            spark, eng, src, t, ckpt, txn_boundaries=True
        ).awaitTermination(120)

        # poll 1: only transactions wholly inside [0, block_lo) can be
        # complete; the straddling block is withheld in the sidecar
        eng1 = Engine(spark, str(tmp_path / "plain1"), n_buckets=8)
        t1 = eng1.snapshot_table("repo_files")
        MicroBatchRunner(eng1, epoch_size=500).run(
            committed_only.filter(F.col("lsn") < block_lo), t1
        )
        assert _state(t) == _state(t1)
        pend = os.path.join(ckpt, "txn_pending")
        assert os.path.isdir(pend) and any(
            d.startswith("batch=") for d in os.listdir(pend)
        )

        # poll 2: the rest arrives; straddling transactions complete now
        visible.filter(F.col("lsn") >= cut).write.mode("append").parquet(src)
        stream_apply(
            spark, eng, src, t, ckpt, txn_boundaries=True
        ).awaitTermination(120)

        eng2 = Engine(spark, str(tmp_path / "plain2"), n_buckets=8)
        t2 = eng2.snapshot_table("repo_files")
        MicroBatchRunner(eng2, epoch_size=500).run(committed_only, t2)
        assert _state(t) == _state(t2)
    finally:
        for df in (events, visible, committed_only):
            df.unpersist()


def test_missing_declared_count_withheld_consistently(spark):
    """txn_id without a declared count (malformed producer metadata) must be
    WITHHELD — committed is never NULL, so the batch and stream gates agree
    and the dim counts it as held."""
    df = spark.createDataFrame(
        [(5, None, 3), (None, None, 7)],
        "txn_id long, txn_events long, lsn long",
    )
    gated, dim = gate_transactions(df)
    # the malformed transaction's event never applies; the singleton does
    assert {r["lsn"] for r in gated.collect()} == {7}
    d = {r["txn_id"]: r for r in dim.collect()}
    assert d[5]["committed"] is False and d[5]["apply_lsn"] is None


def test_disagreeing_declared_count_withheld(spark):
    """Events of one transaction that DISAGREE on the declared count are a
    malformed producer: the transaction must be withheld entirely (never
    commit at the smaller value — that would land a partial transaction in
    the batch path and strand the remainder in the streaming gate)."""
    df = spark.createDataFrame(
        [(9, 2, 4), (9, 3, 6), (None, None, 1)],
        "txn_id long, txn_events long, lsn long",
    )
    gated, dim = gate_transactions(df)
    # only the autocommit singleton applies
    assert {r["lsn"] for r in gated.collect()} == {1}
    d = {r["txn_id"]: r for r in dim.collect()}
    assert d[9]["committed"] is False
    assert d[9]["declared_consistent"] is False
    assert d[9]["apply_lsn"] is None
    # a third event arriving later still never commits it (declared = max)
    df2 = df.union(
        spark.createDataFrame([(9, 3, 8)], "txn_id long, txn_events long, lsn long")
    )
    gated2, _ = gate_transactions(df2)
    assert {r["lsn"] for r in gated2.collect()} == {1}


def _legacy_cow_table(spark, wh):
    """An empty table whose manifest is the one an older version's
    copy-on-write mode wrote: ``mode: "cow"`` and no order_col."""
    eng = Engine(spark, wh, n_buckets=4)
    t = eng.snapshot_table("repo_files")
    snap = t.current_snapshot()
    with open(os.path.join(t.meta_dir, f"v{snap['snapshot_id']:08d}.json"), "w") as f:
        json.dump({**snap, "mode": "cow", "order_col": None}, f)
    return eng, t, t.current_snapshot()


def test_runner_txn_boundaries_rejects_cow(spark, tmp_path):
    """Gated epochs are apply_lsn-sliced, so a later epoch can carry
    older-lsn events; only an order_col resolves them. A legacy
    copy-on-write table has none: the gated runner must refuse it loudly
    and leave its manifest as it was."""
    events = change_events(spark, 100)
    visible, _ = _with_txn_metadata(events)
    eng, t, snap = _legacy_cow_table(spark, str(tmp_path / "cow"))
    runner = MicroBatchRunner(eng, epoch_size=50, txn_boundaries=True)
    with pytest.raises(ValueError, match="copy-on-write"):
        runner.run(visible, t)
    assert t.current_snapshot() == snap


def test_stream_apply_txn_boundaries_rejects_cow(spark, tmp_path):
    """stream_apply carries the same refusal: a gated stream into a legacy
    copy-on-write table is refused before the stream starts."""
    from data_exchange_hl7_spark.streaming.stream_ingest import stream_apply

    eng, t, _ = _legacy_cow_table(spark, str(tmp_path / "cow"))
    with pytest.raises(ValueError, match="copy-on-write"):
        stream_apply(
            spark, eng, str(tmp_path / "wal"), t, str(tmp_path / "ckpt"),
            txn_boundaries=True,
        )
    assert not (tmp_path / "ckpt").exists()


def test_runner_txn_boundaries_refuses_dropped_compact_opts(spark, tmp_path):
    """Gated maintenance is consolidate_deltas, which takes max_delta_depth
    only; any other compact_opts key is refused, not silently dropped."""
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    with pytest.raises(ValueError, match="sort_cols"):
        MicroBatchRunner(
            eng, epoch_size=50, compact_every=1, txn_boundaries=True,
            compact_opts={"max_delta_depth": 2, "sort_cols": ["repo", "path"]},
        )
    MicroBatchRunner(
        eng, epoch_size=50, compact_every=1, txn_boundaries=True,
        compact_opts={"max_delta_depth": 2},
    )
    # ungated runs still forward layout options to compact()
    MicroBatchRunner(eng, epoch_size=50, compact_opts={"sort_cols": ["repo", "path"]})


def test_gated_maintenance_preserves_tombstones(spark, tmp_path):
    """compact_every under txn_boundaries must use tombstone-preserving
    consolidation: a held transaction's OLDER-lsn upsert that applies after
    the delete's epoch (and after a maintenance pass) must not resurrect
    the deleted key."""
    from data_exchange_hl7_spark.streaming.txn_gate import (
        TXN_EVENTS_KEY as EV_KEY,
        TXN_ID_KEY as ID_KEY,
    )

    base = change_events(spark, 61).filter(F.col("lsn").isin(3, 10, 40, 60))
    key_path = "src/keyK.py"
    ev = (
        base.withColumn("repo", F.lit("org-x/proj"))
        .withColumn(
            "path",
            F.when(F.col("lsn") == 60, F.lit("src/keyOther.py")).otherwise(
                F.lit(key_path)
            ),
        )
        .withColumn(
            "op",
            F.when(F.col("lsn") == 40, F.lit("DELETE"))
            .when(F.col("lsn") == 10, F.lit("INSERT"))
            .otherwise(F.lit("UPDATE")),
        )
        .withColumn(
            "content",
            F.when(F.col("lsn") == 40, F.lit(None).cast("string")).otherwise(
                F.concat(F.lit("v@"), F.col("lsn").cast("string"))
            ),
        )
        .withColumn("new_path", F.lit(None).cast("string"))
        .withColumn("schema_field", F.lit(None).cast("string"))
        .withColumn(
            "commit", F.sha2(F.col("lsn").cast("string"), 256).substr(1, 40)
        )
        .withColumn(
            "supporting_metadata",
            # txn 99 = {lsn 3, lsn 60}: commit position 60 -> the lsn-3
            # upsert of keyK applies in epoch 1, AFTER the lsn-40 delete
            # (epoch 0) and after the epoch-0 maintenance pass
            F.when(
                F.col("lsn").isin(3, 60),
                F.create_map(
                    F.lit(ID_KEY), F.lit("99"), F.lit(EV_KEY), F.lit("2")
                ),
            ).otherwise(F.create_map().cast("map<string,string>")),
        )
        .withColumn(
            "content_sha256",
            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256),
        )
    )
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    t = eng.snapshot_table("repo_files")
    MicroBatchRunner(
        eng, epoch_size=50, txn_boundaries=True, compact_every=1
    ).run(ev, t)
    keys = set(_state(t))
    assert ("org-x/proj", "src/keyOther.py") in keys
    assert ("org-x/proj", key_path) not in keys, (
        "deleted key resurrected: maintenance dropped the delete tombstone "
        "before an older-lsn held-transaction event applied"
    )
