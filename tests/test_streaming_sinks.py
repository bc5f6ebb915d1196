"""Tests: Structured Streaming ingest (S1/S2 + exactly-once foreachBatch),
file sink layout (K4), summary tables (A3)."""

import os
import time

from pyspark.sql import functions as F

from data_exchange_hl7_spark.datagen import change_events, replay_oracle
from data_exchange_hl7_spark.engine import Engine
from data_exchange_hl7_spark.operators import sinks
from data_exchange_hl7_spark.operators import validate as V
from data_exchange_hl7_spark.streaming.stream_ingest import stream_apply


def test_stream_apply_matches_oracle(spark, tmp_path):
    """Directory-tail stream -> foreachBatch apply; adding more files and
    re-running availableNow picks up ONLY the new ones (checkpoint), and the
    final state matches the oracle over all events."""
    src = str(tmp_path / "wal_stream")
    ev = change_events(spark, 3000).persist()
    ev.filter(F.col("lsn") < 1500).write.mode("overwrite").parquet(src)

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=16)
    table = eng.snapshot_table("repo_files")
    ckpt = str(tmp_path / "ckpt")

    q = stream_apply(spark, eng, src, table, ckpt)
    q.awaitTermination(120)
    epochs_after_first = set(table.committed_epochs())
    assert len(epochs_after_first) >= 1
    n_first = table.snapshot().count()

    # append the rest of the WAL; a new availableNow run drains only the delta
    ev.filter(F.col("lsn") >= 1500).write.mode("append").parquet(src)
    q2 = stream_apply(spark, eng, src, table, ckpt)
    q2.awaitTermination(120)
    assert set(table.committed_epochs()) > epochs_after_first

    oracle = replay_oracle([r.asDict() for r in ev.collect()])
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in table.snapshot().collect()}
    assert set(got) == set(oracle.rows)
    for k, orc in oracle.rows.items():
        assert got[k] == orc["sha"], k
    assert table.snapshot().count() != n_first or n_first == len(oracle.rows)
    ev.unpersist()


def test_file_sink_layout(spark, tmp_path):
    ev = change_events(spark, 500)
    out = str(tmp_path / "sink")
    sinks.file_sink(ev, out, stream_col="repo", ts_col="ts")
    dirs = os.listdir(out)
    assert any(d.startswith("repo=") for d in dirs)
    back = spark.read.parquet(out)
    assert "content" not in back.columns
    assert back.count() == 500
    # partition pruning: reading one stream dir touches only that partition
    one = back.filter(F.col("repo") == "org-0000/proj")
    assert 0 < one.count() < 500


def test_batch_summary_and_groupings(spark):
    ev = V.validate(change_events(spark, 2000))
    s = sinks.batch_summary(ev).collect()[0]
    assert s["total_messages"] == 2000
    assert s["valid_messages"] + s["invalid_messages"] == 2000
    assert s["total_errors"] > 0
    by_cat = {r["category"]: r["n"] for r in sinks.errors_by(ev, "category").collect()}
    assert "Usage" in by_cat
    by_msg = sinks.errors_by_message(ev)
    assert by_msg.count() > 0
    assert by_msg.agg(F.sum("n_entries")).collect()[0][0] == s["total_errors"] + s["total_warnings"]


def test_runner_compact_and_expire_cadence(spark, tmp_path):
    """compact_every + expire_keep_last bound both read amplification and
    storage while preserving exactly-once manifests."""
    import os

    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    table = eng.snapshot_table("repo_files")
    events = change_events(spark, 4000)
    stats = MicroBatchRunner(
        eng, epoch_size=1000, compact_every=2, expire_keep_last=1
    ).run(events, table)
    assert len([s for s in stats if s.get("applied")]) == 4
    assert any("expiry" in s for s in stats)
    # post-run: deltas folded at last compaction boundary, manifest intact
    assert set(table.committed_epochs()) == {"0", "1", "2", "3"}
    # state equals an un-maintained replay of the same WAL
    eng2 = Engine(spark, str(tmp_path / "wh2"), n_buckets=4)
    t2 = eng2.snapshot_table("repo_files")
    MicroBatchRunner(eng2, epoch_size=1000).run(events, t2)
    a = sorted(tuple(r) for r in table.snapshot().collect())
    b = sorted(tuple(r) for r in t2.snapshot().collect())
    assert a == b


def test_epoch_split_sizing(spark, tmp_path):
    """A file-backed WAL sliced into many epochs lowers the input-split size
    (so each epoch's dense rows fan out across cores), restores the session
    default afterwards, and never lowers it when the guard says the scan
    would explode into too many tasks."""
    from data_exchange_hl7_spark.streaming.runner import (
        MAX_SCAN_TASKS,
        MicroBatchRunner,
        _epoch_split_bytes,
    )

    src = str(tmp_path / "wal")
    change_events(spark, 20000).write.mode("overwrite").parquet(src)
    wal = spark.read.parquet(src)

    configured = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    # many epochs over a small file-backed WAL -> per-epoch bytes tiny ->
    # floor clamps at 4 MB, below the 128 MB default
    assert _epoch_split_bytes(wal, 20, configured) == 4 * 1024 * 1024
    # guard: if lowering would plan > MAX_SCAN_TASKS splits, stay higher
    total = int(str(wal._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert _epoch_split_bytes(wal, 20, configured + 1) is not None
    assert (
        _epoch_split_bytes(wal, 1, total // MAX_SCAN_TASKS + 1) is None
        or total // MAX_SCAN_TASKS <= 4 * 1024 * 1024
    )
    # generated (non-file) sources or huge configured caps -> no-op
    assert _epoch_split_bytes(wal, 1, 4 * 1024 * 1024) is None

    # run() applies the tuned value only inside the run and restores after
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    table = eng.snapshot_table("repo_files")
    MicroBatchRunner(eng, epoch_size=5000).run(wal, table)
    assert int(spark.conf.get("spark.sql.files.maxPartitionBytes")) == configured
    assert set(table.committed_epochs()) == {"0", "1", "2", "3"}


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    """Watermarked event-time windows over a file stream: the union of
    finalized (append-mode) windows across two availableNow drains must match
    the batch aggregation over all the data that was not late."""
    from data_exchange_hl7_spark.streaming.windowed import windowed_counts

    src = str(tmp_path / "win_src")
    ev = change_events(spark, 2000).select("event_id", "ts", "op").persist()
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = windowed_counts(stream, ts_col="ts", keys=("op",), window="1 hour",
                          watermark="30 minutes")
    out = str(tmp_path / "win_out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # append-mode emits only windows the watermark has passed; every emitted
    # row must agree with the batch aggregation, and after a second drain
    # with a far-future row the earlier windows must ALL have been finalized
    batch = {
        (r["window_start"], r["op"]): r["n_events"]
        for r in windowed_counts(
            spark.read.parquet(src), ts_col="ts", keys=("op",), window="1 hour"
        ).collect()
    }
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    spark.createDataFrame(
        [(10_000_000, max_ts + __import__("datetime").timedelta(hours=3), "INSERT")],
        "event_id long, ts timestamp, op string",
    ).write.mode("append").parquet(src)
    q2 = (
        windowed_counts(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
            ts_col="ts", keys=("op",), window="1 hour", watermark="30 minutes",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = {}
    for r in spark.read.parquet(out).collect():
        got[(r["window_start"], r["op"])] = (
            got.get((r["window_start"], r["op"]), 0) + r["n_events"]
        )
    for k, v in got.items():
        assert batch.get(k, None) == v, k
    # all original windows finalized once the watermark moved past them
    assert sum(v for k, v in got.items() if k in batch) == 2000
    ev.unpersist()


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: a hash first seen in epoch 1 must NOT
    survive again in epoch 2 (state persists via the checkpoint), and the
    survivor is the deterministic min-event_id row."""
    from data_exchange_hl7_spark.streaming.windowed import streaming_exact_dedup

    src = str(tmp_path / "dd_src")
    rows1 = [(1, "h_a", "x"), (2, "h_a", "x"), (3, "h_b", "y")]
    rows2 = [(4, "h_a", "x"), (5, "h_c", "z"), (6, "h_c", "z")]
    schema = "event_id long, message_hash string, content string"
    spark.createDataFrame(rows1, schema).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "dd_out")

    def drain():
        q = (
            streaming_exact_dedup(
                spark.readStream.schema(schema).parquet(src),
                hash_col="message_hash",
                tiebreak_cols=("event_id",),
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == len({r["message_hash"] for r in rows})  # never re-emit
        return {r["message_hash"]: r["event_id"] for r in rows}

    got1 = drain()
    assert got1 == {"h_a": 1, "h_b": 3}  # min event_id survives within a batch

    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    got2 = drain()
    # h_a already emitted in epoch 1 -> dropped (state held); h_c new -> min
    assert got2 == {"h_a": 1, "h_b": 3, "h_c": 5}

    # batch plan of the same operator gives the same survivor rule
    batch = streaming_exact_dedup(
        spark.createDataFrame(rows1 + rows2, schema), hash_col="message_hash"
    )
    assert {(r["message_hash"], r["event_id"]) for r in batch.collect()} == {
        ("h_a", 1), ("h_b", 3), ("h_c", 5),
    }


def test_stream_apply_maintains_derived_table(spark, tmp_path):
    """A derived table registered on the engine is maintained by the
    STREAMING path too (foreachBatch -> apply_epoch): after the stream
    drains, the derived state equals derive() of the main snapshot and both
    manifests carry the same epoch ids."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        file_stats_derive,
    )

    src = str(tmp_path / "wal_stream")
    ev = change_events(spark, 2000)
    ev.write.mode("overwrite").parquet(src)

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=16)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)

    q = stream_apply(spark, eng, src, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert set(stats_t.committed_epochs()) == set(table.committed_epochs())
    body = F.coalesce(F.col("content"), F.lit(""))
    expected = sorted(
        table.snapshot()
        .select(
            "repo", "path", "lang",
            F.size(F.split(body, "\n")).cast("int").alias("n_lines"),
            F.size(F.filter(F.split(body, " "), lambda t: F.length(t) > 0))
            .cast("int").alias("n_tokens"),
            "content_sha256", "last_lsn",
        )
        .collect()
    )
    assert sorted(stats_t.snapshot().collect()) == expected


def test_stream_apply_maintains_aggregate_view(spark, tmp_path):
    """Aggregate materialized views are maintained by the streaming path too
    (foreachBatch -> apply_epoch computes deltas off each micro-batch's
    pre-state): after the stream drains, the view equals a plain groupBy of
    the main snapshot."""
    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        repo_stats_delta,
    )

    src = str(tmp_path / "wal_stream")
    ev = change_events(spark, 2000)
    ev.filter(F.col("lsn") < 1000).write.mode("overwrite").parquet(src)

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=16)
    table = eng.snapshot_table("repo_files")
    view = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)

    stream_apply(spark, eng, src, table, str(tmp_path / "ckpt")).awaitTermination(120)
    # second batch arrives later: deltas must stack on the first batch's sums
    ev.filter(F.col("lsn") >= 1000).write.mode("append").parquet(src)
    stream_apply(spark, eng, src, table, str(tmp_path / "ckpt")).awaitTermination(120)

    exp = {r["repo"]: (r["n_files"], r["total_bytes"]) for r in
           table.snapshot().groupBy("repo").agg(
               F.count("*").alias("n_files"),
               F.sum(F.col("size_bytes").cast("bigint")).alias("total_bytes"),
           ).collect()}
    got = {r["repo"]: (r["n_files"], r["total_bytes"]) for r in view.snapshot().collect()}
    for repo, vals in exp.items():
        assert got[repo] == vals, repo
    for repo in set(got) - set(exp):
        assert got[repo] == (0, 0), repo


def test_session_counts_stream_matches_batch(spark, tmp_path):
    """Watermarked session windows over a file stream (the one window family
    whose state MERGES across micro-batches): append-mode emits a session
    only once the watermark passes its end, and after a drain with a
    far-future row every original session must be finalized and equal the
    batch sessionization of the same data."""
    from data_exchange_hl7_spark.streaming.windowed import session_counts

    src = str(tmp_path / "sess_src")
    ev = change_events(spark, 2000).select("event_id", "ts", "op").persist()
    ev.write.mode("overwrite").parquet(src)

    batch = {
        (r["session_start"], r["session_end"], r["op"]): r["n_events"]
        for r in session_counts(
            spark.read.parquet(src), ts_col="ts", keys=("op",), gap="2 minutes"
        ).collect()
    }
    # non-vacuous: the 2-minute gap actually splits each op into sessions
    assert len(batch) > 4

    out = str(tmp_path / "sess_out")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    spark.createDataFrame(
        [(10_000_000, max_ts + __import__("datetime").timedelta(hours=3), "INSERT")],
        "event_id long, ts timestamp, op string",
    ).write.mode("append").parquet(src)
    q = (
        session_counts(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
            ts_col="ts", keys=("op",), gap="2 minutes", watermark="30 minutes",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["session_start"], r["session_end"], r["op"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    # the sentinel's own far-future session is not in `batch`; everything
    # else must be finalized and exact
    finalized = {k: v for k, v in got.items() if k in batch}
    assert finalized == batch
    ev.unpersist()


def test_stream_apply_into_branch_then_publish(spark, tmp_path):
    """WAL-window audit on a fork: streaming into a BRANCH must offset its
    epoch ids past the inherited ledger (batch 0 would otherwise collide
    with the parent's committed epoch 0 and silently no-op — the regression
    this test pins). Restarting the stream re-reads the persisted base, so
    exactly-once holds across checkpoint resumes; Engine.publish then lands
    the audited window on the parent, matching the all-events oracle."""
    ev = change_events(spark, 3000).persist()
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=16)
    table = eng.snapshot_table("repo_files")
    eng.apply_epoch(ev.filter(F.col("lsn") < 1500), table, epoch=0)

    src = str(tmp_path / "wal_stream")
    ev.filter(F.col("lsn") >= 1500).write.mode("overwrite").parquet(src)
    b = table.branch(str(tmp_path / "audit"), name="audit")
    ckpt = str(tmp_path / "ckpt")
    stream_apply(spark, eng, src, b, ckpt).awaitTermination(120)

    new_epochs = set(b.committed_epochs()) - set(table.committed_epochs())
    assert new_epochs and all(int(e) >= 1 for e in new_epochs)
    n_after_stream = b.snapshot().count()
    assert n_after_stream > table.snapshot().count()

    # restart with the same checkpoint: nothing new to read, nothing reapplied
    stream_apply(spark, eng, src, b, ckpt).awaitTermination(120)
    assert set(b.committed_epochs()) - set(table.committed_epochs()) == new_epochs
    assert b.snapshot().count() == n_after_stream

    eng.publish(table, b)
    oracle = replay_oracle([r.asDict() for r in ev.collect()])
    got = {(r["repo"], r["path"]): r["content_sha256"]
           for r in table.snapshot().collect()}
    assert set(got) == set(oracle.rows)
    for k, orc in oracle.rows.items():
        assert got[k] == orc["sha"], k
    ev.unpersist()


def test_stream_apply_maintenance_cadence(spark, tmp_path):
    """A long-lived stream must not accrete delta layers without bound:
    with compact_every set, the foreachBatch sink folds delta layers and
    expires old snapshots on the batch cadence (main table AND registered
    deriveds), and the drained state still matches the replay oracle."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        file_stats_derive,
    )

    ev = change_events(spark, 6000).persist()
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)

    src = str(tmp_path / "wal")
    ev.repartition(8).write.mode("overwrite").parquet(src)
    q = stream_apply(
        spark, eng, src, table, str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        compact_every=2,
        expire_keep_last=2,
    )
    q.awaitTermination(180)

    assert len(table.committed_epochs()) >= 3  # multi-batch drain
    # delta depth bounded by the cadence, on main AND derived
    assert len(table.current_snapshot().get("deltas", [])) <= 2
    assert len(stats_t.current_snapshot().get("deltas", [])) <= 2
    # expiry ran: snapshot metadata is bounded too
    import os
    n_meta = len([f for f in os.listdir(table.meta_dir) if f.startswith("v")])
    assert n_meta <= 6, n_meta

    oracle = replay_oracle([r.asDict() for r in ev.collect()])
    got = {(r["repo"], r["path"]): r["content_sha256"]
           for r in table.snapshot().collect()}
    assert set(got) == set(oracle.rows)
    for k, orc in oracle.rows.items():
        assert got[k] == orc["sha"], k
    # the derived table followed through maintenance: same epochs, same keys
    assert set(stats_t.committed_epochs()) == set(table.committed_epochs())
    assert {(r["repo"], r["path"]) for r in stats_t.snapshot().collect()} == set(got)
    ev.unpersist()


def test_stream_apply_maintains_scd2_history(spark, tmp_path):
    """Engine.scd2_table rides the SAME foreachBatch maintenance as every
    derived table: after a rate-limited multi-batch drain (with the
    compaction/expiry cadence on), the history's open versions must equal
    the main state exactly and the interval invariants must hold — i.e. the
    pre-epoch-state recovery works per micro-batch, not just per manual
    apply_epoch."""
    ev = change_events(spark, 6000).persist()
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    hist = eng.scd2_table()

    src = str(tmp_path / "wal")
    ev.repartition(8).write.mode("overwrite").parquet(src)
    q = stream_apply(
        spark, eng, src, table, str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        compact_every=2,
        expire_keep_last=2,
    )
    q.awaitTermination(180)
    assert len(table.committed_epochs()) >= 3  # really multi-batch
    assert set(hist.committed_epochs()) == set(table.committed_epochs())

    h = hist.snapshot()
    cur = h.filter("is_current").select(
        "repo", "path",
        F.col("valid_from_lsn").alias("last_lsn"),
        "content_sha256",
    )
    main = table.snapshot().select("repo", "path", "last_lsn", "content_sha256")
    assert cur.count() == main.count() > 0
    assert cur.exceptAll(main).count() == 0 and main.exceptAll(cur).count() == 0
    # one open version per live key, never more — even under the file-order
    # drain's out-of-order delivery (late events are recorded CLOSED)
    assert (
        h.filter("is_current").groupBy("repo", "path").count().filter("count > 1")
    ).count() == 0
    assert h.filter("is_current AND valid_to_lsn IS NOT NULL").count() == 0
    assert h.filter("NOT is_current AND valid_to_lsn IS NULL").count() == 0
    # every closed interval is forward (a late version closes at the lsn
    # that superseded it, never before its own start)
    assert h.filter(
        "valid_to_lsn IS NOT NULL AND valid_to_lsn <= valid_from_lsn"
    ).count() == 0
    # NB: strict interval CHAINING (prev.valid_to == next.valid_from) is the
    # in-order contract and is asserted in the batch engine tests; a
    # file-order stream delivers late events whose valid_to is an upper
    # bound (scd2_history_rows docstring), so it is not asserted here.
    # churn reached the history: multi-version keys exist
    assert h.groupBy("repo", "path").count().filter("count >= 2").count() > 0
    ev.unpersist()


def test_stream_apply_atomic_batches(spark, tmp_path):
    """atomic=True on the streaming path: every micro-batch publishes its
    main + derived merges from one transaction; the drained state matches
    the non-atomic contract (derived == derive(main), same epoch sets) and
    no transaction is left pending."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        file_stats_derive,
    )
    from data_exchange_hl7_spark.lake.txn import MultiTableTransaction

    src = str(tmp_path / "wal_stream")
    change_events(spark, 2000).write.mode("overwrite").parquet(src)

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=16)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)

    q = stream_apply(spark, eng, src, table, str(tmp_path / "ckpt"), atomic=True)
    q.awaitTermination(120)

    assert set(stats_t.committed_epochs()) == set(table.committed_epochs())
    main_keys = {
        (r["repo"], r["path"]) for r in table.snapshot().select("repo", "path").collect()
    }
    derived_keys = {
        (r["repo"], r["path"])
        for r in stats_t.snapshot().select("repo", "path").collect()
    }
    assert main_keys == derived_keys and main_keys
    # all transactions retired
    assert MultiTableTransaction.recover(spark, str(tmp_path / "wh" / "_txn")) == []


def test_stream_apply_refuses_unsupported_compact_opts(spark, tmp_path):
    """The stream maintains with consolidate_deltas, which takes only
    max_delta_depth: any other compact_opts key is refused before the
    stream starts. Raising at the compact_every-th batch instead would come
    after that batch applied, and every restart would fail on it again."""
    import pytest

    src = str(tmp_path / "wal")
    change_events(spark, 200).write.mode("overwrite").parquet(src)
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    table = eng.snapshot_table("repo_files")
    before = table.current_snapshot()["snapshot_id"]
    with pytest.raises(ValueError, match="sort_cols"):
        stream_apply(
            spark, eng, src, table, str(tmp_path / "ckpt"), compact_every=1,
            compact_opts={"max_delta_depth": 1, "sort_cols": ["repo", "path"]},
        )
    assert not spark.streams.active  # no query started
    assert not (tmp_path / "ckpt").exists()
    assert table.current_snapshot()["snapshot_id"] == before
    assert table.committed_epochs() == {}
