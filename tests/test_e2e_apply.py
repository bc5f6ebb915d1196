"""M1 golden-replay end-to-end test (FIXTURES.md section 6).

Mirrors the reference's golden-payload E2E pattern
(tst-hl7-pipeline/src/test/kotlin/.../MainTest.kt:29-56): a deterministic
synthetic change stream replayed by the Spark engine must reach the exact
state the single-threaded Python oracle reaches — row-set equality + per-row
sha256 + evolved-column equality — and re-running committed epochs must be a
no-op (exactly-once).
"""

import os

import pytest
from pyspark.sql import functions as F

from data_exchange_hl7_spark.datagen import change_events, replay_oracle
from data_exchange_hl7_spark.engine import Engine
from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

N_EVENTS = 4000
EPOCH = 1000


@pytest.fixture(scope="module")
def events(spark):
    return change_events(spark, N_EVENTS).persist()


@pytest.fixture(scope="module")
def oracle_state(events):
    return replay_oracle([r.asDict() for r in events.collect()])


def _assert_matches_oracle(table, oracle_state):
    snap_rows = {
        (r["repo"], r["path"]): r.asDict() for r in table.snapshot().collect()
    }
    assert set(snap_rows) == set(oracle_state.rows)
    extra_fields = oracle_state.schema_fields
    for key, orc in oracle_state.rows.items():
        got = snap_rows[key]
        assert got["content_sha256"] == orc["sha"], key
        assert got["commit"] == orc["commit"], key
        assert got["lang"] == orc["lang"], key
        for f in extra_fields:
            assert got.get(f) == orc["extra"].get(f), (key, f)


@pytest.mark.parametrize("compact_every", [1, None, 2], ids=lambda k: f"mor-{k}")
def test_full_replay_matches_oracle(spark, events, oracle_state, tmp_path, compact_every):
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=16)
    table = eng.snapshot_table("repo_files")
    stats = MicroBatchRunner(eng, epoch_size=EPOCH, compact_every=compact_every).run(
        events, table
    )
    assert len(stats) == N_EVENTS // EPOCH
    assert all(s.get("applied") for s in stats)
    assert oracle_state.rows, "oracle produced empty state — generator broken"
    if compact_every == 1:
        # the read-optimized cadence: every epoch is folded into base files
        assert table.current_snapshot()["deltas"] == []
    _assert_matches_oracle(table, oracle_state)

    # evolved schema landed
    names = [f["name"] for f in table.schema_fields()]
    for f in oracle_state.schema_fields:
        assert f in names

    # idempotence: full re-run is a no-op and the state is unchanged
    sid_before = table.current_snapshot()["snapshot_id"]
    stats2 = MicroBatchRunner(eng, epoch_size=EPOCH).run(events, table)
    assert all(s.get("resumed_skip") for s in stats2)
    assert table.current_snapshot()["snapshot_id"] == sid_before
    _assert_matches_oracle(table, oracle_state)


def test_kill_and_resume(spark, events, oracle_state, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh2"), n_buckets=16)
    table = eng.snapshot_table("repo_files")
    runner = MicroBatchRunner(eng, epoch_size=EPOCH)
    partial = runner.run(events, table, fail_after_epoch=1)  # "crash" after epoch 1
    assert len(partial) == 2
    resumed = runner.run(events, table)
    assert [s["epoch"] for s in resumed if s.get("resumed_skip")] == [0, 1]
    _assert_matches_oracle(table, oracle_state)


def test_metrics_and_lineage(spark, events, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh3"), n_buckets=16)
    table = eng.snapshot_table("repo_files")
    MicroBatchRunner(eng, epoch_size=EPOCH).run(events, table)
    m = eng.metrics().orderBy("epoch").collect()
    assert len(m) == N_EVENTS // EPOCH
    assert sum(r["events_in"] for r in m) == N_EVENTS
    assert sum(r["rejected"] for r in m) > 0  # missing-commit fixtures exist
    lin = eng.lineage()
    assert lin.count() > 0
    assert lin.agg(F.sum("upserted")).collect()[0][0] > 0
    rej = eng.rejects()
    assert rej.filter(F.col("status") != "STRUCTURE_ERRORS").count() == 0


def test_schema_collect_runs_only_for_ddl_epochs(spark, tmp_path, monkeypatch):
    """The reject write's Observation counts each epoch's schema events, so
    an epoch with none runs one job fewer: no schema-event collect. An
    epoch carrying a SCHEMA_ADD still collects it and adds the column."""
    sc = spark.sparkContext
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    real_collect = frame_cls.collect

    def spy(df):
        # the schema-event collect is the one frame of this shape
        if df.columns != ["lsn", "op", "schema_field"]:
            return real_collect(df)
        sc.setJobGroup("schema_collect", "schema-event collect")
        try:
            return real_collect(df)
        finally:
            sc.setJobGroup("", "")

    def schema_collect_jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return len(sc.statusTracker().getJobIdsForGroup("schema_collect"))

    monkeypatch.setattr(frame_cls, "collect", spy)
    ddl = F.col("lsn") == 300
    ev = (
        change_events(spark, 400)
        .withColumn("op", F.when(ddl, F.lit("SCHEMA_ADD")).otherwise(F.col("op")))
        .withColumn("schema_field", F.when(ddl, F.lit("attr_t")).otherwise(F.col("schema_field")))
        .withColumn("commit", F.when(ddl, F.lit("c" * 40)).otherwise(F.col("commit")))
    )
    assert ev.filter(F.col("op").startswith("SCHEMA")).count() == 1
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    t = eng.snapshot_table("repo_files")
    eng.apply_epoch(ev.filter(F.col("lsn") < 200), t, epoch=0)
    assert schema_collect_jobs() == 0
    assert "attr_t" not in t.snapshot().columns
    eng.apply_epoch(ev.filter(F.col("lsn") >= 200), t, epoch=1)
    assert schema_collect_jobs() >= 1
    assert "attr_t" in t.snapshot().columns
    assert [r["schema_changes"] for r in eng.metrics().orderBy("epoch").collect()] == [0, 1]


def test_determinism_across_parallelism(spark, events):
    """The generator itself must be partitioning-independent (hash-derived,
    no rand()/uuid()): same rows at any repartitioning."""
    a = events.orderBy("lsn").select("event_id", "content_sha256").collect()
    b = (
        events.repartition(37)
        .orderBy("lsn")
        .select("event_id", "content_sha256")
        .collect()
    )
    assert a == b


def test_selective_replay_with_filters(spark, events, oracle_state, tmp_path):
    """svc-hl7-replay semantics: replay a filtered slice into a fresh table,
    with replay provenance recorded in every epoch manifest entry."""
    from data_exchange_hl7_spark.streaming.runner import replay

    eng = Engine(spark, str(tmp_path / "wh4"), n_buckets=16)
    target_repo = next(iter(oracle_state.rows))[0]
    table = replay(
        eng, events, table_name="audit", epoch_size=EPOCH,
        repo=target_repo, reason="audit trail",
    )
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in table.snapshot().collect()
    }
    # oracle of ONLY that repo's events
    sub_oracle = replay_oracle(
        [r.asDict() for r in events.filter(F.col("repo") == target_repo).collect()]
    )
    assert got == {k: v["sha"] for k, v in sub_oracle.rows.items()}
    assert len(got) > 0
    # replay metadata on every applied epoch
    for entry in table.committed_epochs().values():
        assert entry["replay"]["reason"] == "audit trail"
        assert entry["replay"]["filter"]["repo"] == target_repo


def test_selective_replay_lsn_range(spark, events, tmp_path):
    """Replay of an lsn range reproduces exactly the state of those events."""
    from data_exchange_hl7_spark.streaming.runner import replay

    eng = Engine(spark, str(tmp_path / "wh5"), n_buckets=16)
    lo, hi = 1000, 2999
    table = replay(
        eng, events, table_name="range_replay", epoch_size=EPOCH,
        lsn_range=(lo, hi), reason="range",
    )
    sub_oracle = replay_oracle(
        [r.asDict() for r in events.filter((F.col("lsn") >= lo) & (F.col("lsn") <= hi)).collect()]
    )
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in table.snapshot().collect()
    }
    assert got == {k: v["sha"] for k, v in sub_oracle.rows.items()}


def test_selective_replay_full_filter_surface(spark, events, tmp_path):
    """ReplayController.kt:100-139,225-253 parity: replay by record ids,
    path, and ts range; ReplayMD shape {replay_timestamp, reason,
    starting_process, filter} lands on every applied epoch manifest."""
    from data_exchange_hl7_spark.streaming.runner import replay

    # by event id (message_uuid analogue)
    some = [r["event_id"] for r in events.limit(5).collect()]
    eng = Engine(spark, str(tmp_path / "wh6"), n_buckets=16)
    t = replay(
        eng, events, table_name="by_id", epoch_size=EPOCH,
        event_ids=some, reason="reinject", starting_process="validate",
    )
    sub = replay_oracle(
        [r.asDict() for r in events.filter(F.col("event_id").isin(*some)).collect()]
    )
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in t.snapshot().collect()}
    assert got == {k: v["sha"] for k, v in sub.rows.items()}
    for entry in t.committed_epochs().values():
        md = entry["replay"]
        assert md["reason"] == "reinject"
        assert md["starting_process"] == "validate"
        assert md["replay_timestamp"] > 0
        assert sorted(md["filter"]["event_ids"]) == sorted(some)

    # by path + ts range (date-range/jurisdiction analogue)
    r0 = events.limit(1).collect()[0]
    bounds = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    t2 = replay(
        eng, events, table_name="by_path_ts", epoch_size=EPOCH,
        repo=r0["repo"], path=r0["path"], ts_range=(bounds[0], bounds[1]),
        reason="window",
    )
    sub2 = replay_oracle(
        [
            r.asDict()
            for r in events.filter(
                (F.col("repo") == r0["repo"]) & (F.col("path") == r0["path"])
            ).collect()
        ]
    )
    got2 = {(r["repo"], r["path"]): r["content_sha256"] for r in t2.snapshot().collect()}
    assert got2 == {k: v["sha"] for k, v in sub2.rows.items()}
    for entry in t2.committed_epochs().values():
        f = entry["replay"]["filter"]
        assert f["path"] == r0["path"] and "ts_range" in f


def test_reprocess_rejects_after_fix(spark, tmp_path):
    """Dead-letter re-drive: rows rejected for missing commit metadata are
    repaired and re-applied under a new epoch; fixed rows land in the table
    (without clobbering newer live versions — lsn ordering holds), unfixable
    rows stay rejected."""
    from data_exchange_hl7_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    events = change_events(spark, 4000)
    MicroBatchRunner(eng, epoch_size=2000).run(events, table)

    rej = eng.rejects()
    n_rej = rej.count()
    assert n_rej > 0
    assert "content" in rej.columns  # full envelope rides in the DLQ
    missing_commit = rej.filter(
        (F.coalesce(F.trim("commit"), F.lit("")) == "") & ~F.col("op").startswith("SCHEMA")
    ).count()
    assert missing_commit > 0
    before = {(r["repo"], r["path"]): (r["last_lsn"], r["content_sha256"])
              for r in table.snapshot().collect()}

    def fix(df):
        return df.withColumn(
            "commit",
            F.when(
                F.coalesce(F.trim("commit"), F.lit("")) == "", F.lit("backfilled")
            ).otherwise(F.col("commit")),
        )

    r = eng.reprocess_rejects(table, epoch=10_000, fix=fix)
    assert r["applied"]

    after = {(r["repo"], r["path"]): (r["last_lsn"], r["content_sha256"])
             for r in table.snapshot().collect()}
    # no clobber-by-older: surviving keys are at an lsn >= their old one;
    # a key may legitimately VANISH if the repaired batch held a DELETE
    # with a newer lsn than the live state
    deleted_keys = {}
    for r in rej.filter(F.col("op") == "DELETE").collect():
        k = (r["repo"], r["path"])
        deleted_keys[k] = max(deleted_keys.get(k, 0), r["lsn"])
    for k, (lsn, _sha) in before.items():
        if k in after:
            assert after[k][0] >= lsn
        else:
            assert k in deleted_keys and deleted_keys[k] > lsn, k
    # at least one repaired event landed (new key or newer lsn)
    assert after != before
    # still-invalid rows (e.g. unknown op) went to the NEW epoch's rejects
    rej2 = eng.rejects().filter(F.col("epoch") == 10_000)
    assert rej2.filter(F.coalesce(F.trim("commit"), F.lit("")) == "").count() == 0


def test_reprocess_rejects_no_stale_clobber(spark, tmp_path):
    """A re-driven reject older than the live row of its key must not
    overwrite it: the read-time window orders each key's versions by
    last_lsn, so the stale version loses to the newer live one."""
    from data_exchange_hl7_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    events = change_events(spark, 4000)
    MicroBatchRunner(eng, epoch_size=2000).run(events, table)

    rej = eng.rejects()
    assert rej.count() > 0
    before = {(r["repo"], r["path"]): (r["last_lsn"], r["content_sha256"])
              for r in table.snapshot().collect()}

    # deterministic stale re-drive: a VALID event for an existing live key
    # with lsn 0 (older than any live version)
    victim = table.snapshot().orderBy(F.desc("last_lsn")).limit(1).collect()[0]
    vkey = (victim["repo"], victim["path"])
    stale_ev = (
        events.filter(
            (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"])
        )
        .limit(1)
        .withColumn("op", F.lit("UPDATE"))
        .withColumn("lsn", F.lit(0).cast("bigint"))
        .withColumn("commit", F.lit("stale-commit"))
        .withColumn("content", F.lit("stale content that must never land"))
    )

    def fix(df):
        repaired = df.withColumn(
            "commit",
            F.when(
                F.coalesce(F.trim("commit"), F.lit("")) == "", F.lit("backfilled")
            ).otherwise(F.col("commit")),
        )
        return repaired.unionByName(stale_ev.select(*repaired.columns))

    r = eng.reprocess_rejects(table, epoch=10_000, fix=fix)
    assert r["applied"]

    after = {(r["repo"], r["path"]): (r["last_lsn"], r["content_sha256"])
             for r in table.snapshot().collect()}
    deleted_keys = {}
    for r in rej.filter(F.col("op") == "DELETE").collect():
        k = (r["repo"], r["path"])
        deleted_keys[k] = max(deleted_keys.get(k, 0), r["lsn"])
    for k, (lsn, sha) in before.items():
        if k in after:
            assert after[k][0] >= lsn, f"stale re-drive clobbered {k}"
            if after[k][0] == lsn:
                assert after[k][1] == sha, f"same-lsn row changed content {k}"
        else:
            assert k in deleted_keys and deleted_keys[k] > lsn, k
    # the injected stale event lost to the live row
    assert after[vkey] == before[vkey], "stale re-drive clobbered the live row"


def test_derived_table_transactional_with_main(spark, tmp_path):
    """Multi-output silver stage: a registered derived table is maintained
    in the SAME epochs as the main snapshot (reference writes json-lake /
    segments containers alongside the primary table per batch). Invariant:
    final derived state == derive() of the final main state, and both
    manifests carry identical epoch sets."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    events = change_events(spark, 4000)
    MicroBatchRunner(eng, epoch_size=2000).run(events, table)

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
    got = sorted(stats_t.snapshot().collect())
    assert got == expected
    assert set(stats_t.committed_epochs()) == set(table.committed_epochs())


def test_derived_table_resumes_after_partial_commit(spark, tmp_path):
    """Exactly-once ACROSS tables: a crash after the main commit but before
    the derived commit must converge on re-run — main merge no-ops on its
    manifest, the derived merge lands the recomputed (deterministic) change
    frame."""
    import pytest

    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    events = change_events(spark, 2000)
    eng.apply_epoch(events.filter(F.col("lsn") < 1000), table, epoch=0)
    assert "0" in stats_t.committed_epochs()

    ev2 = events.filter(F.col("lsn") >= 1000)
    orig_merge = stats_t.merge
    state = {"fail": True}

    def flaky(*a, **k):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("simulated crash before derived commit")
        return orig_merge(*a, **k)

    stats_t.merge = flaky
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.apply_epoch(ev2, table, epoch=1)
    # main committed, derived did not — the partial state a real crash leaves
    assert "1" in table.committed_epochs()
    assert "1" not in stats_t.committed_epochs()

    r = eng.apply_epoch(ev2, table, epoch=1)
    assert r["derived_applied"] == ["file_stats"]
    assert "1" in stats_t.committed_epochs()
    # and a further re-run is a clean full no-op
    r2 = eng.apply_epoch(ev2, table, epoch=1)
    assert r2 == {"epoch": 1, "applied": False}

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


def test_derived_table_runner_resume_skips_only_fully_committed(spark, tmp_path):
    """A resumed MicroBatchRunner must NOT skip an epoch whose main merge
    committed but whose derived merge did not (crash between the two): the
    resume re-enters apply_epoch, the main merge no-ops, and the derived
    table catches up."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    events = change_events(spark, 4000)

    # run epochs 0-1 normally, then crash epoch 2 between main and derived
    orig_merge = stats_t.merge
    state = {"fail_epoch": 2}

    def flaky(changes, epoch=None, **kw):
        if epoch == state["fail_epoch"]:
            raise RuntimeError("simulated crash before derived commit")
        return orig_merge(changes, epoch=epoch, **kw)

    stats_t.merge = flaky
    runner = MicroBatchRunner(eng, epoch_size=1000)
    with pytest.raises(RuntimeError, match="simulated crash"):
        runner.run(events, table)
    assert "2" in table.committed_epochs()
    assert "2" not in stats_t.committed_epochs()

    # resume: epochs 0-1 skip, epoch 2 re-enters (derived pending), 3 runs
    state["fail_epoch"] = None
    stats = runner.run(events, table)
    by_epoch = {s["epoch"]: s for s in stats}
    assert by_epoch[0].get("resumed_skip") and by_epoch[1].get("resumed_skip")
    assert by_epoch[2].get("derived_applied") == ["file_stats"]
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


def test_derived_table_reregistration_replaces(spark, tmp_path):
    """Registering the same derived table twice (engine restart / idempotent
    setup) must not double-merge per epoch."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    assert len(eng._derived["repo_files"]) == 1
    events = change_events(spark, 1000)
    r = eng.apply_epoch(events, table, epoch=0)
    assert r["derived_applied"] == ["file_stats"]


def test_derived_table_compacted_with_main(spark, tmp_path):
    """Runner maintenance (compact_every/expire) covers derived tables: after
    the run, the derived table's delta layers are folded and its resolved
    state is unchanged by compaction."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    events = change_events(spark, 4000)
    MicroBatchRunner(
        eng, epoch_size=1000, compact_every=2,
        compact_opts={"sort_cols": ["repo", "path"], "files_per_bucket": 2},
    ).run(events, table)
    # 4 epochs, compaction every 2, last epoch triggers maintenance:
    # the derived table's delta layers are folded like the main's
    assert len(stats_t.current_snapshot().get("deltas", [])) == 0
    assert len(table.current_snapshot().get("deltas", [])) == 0
    got = sorted(stats_t.snapshot().collect())
    assert len(got) > 0
    # resolved state equals derive() of the main state (compaction is a
    # layout change only)
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
    assert got == expected


def _expected_repo_stats(table):
    return sorted(
        table.snapshot()
        .groupBy("repo")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.col("size_bytes").cast("bigint")).alias("total_bytes"),
        )
        .collect()
    )


def test_aggregate_table_matches_final_groupby(spark, tmp_path):
    """Incremental aggregate MV: after N epochs (with compaction folding the
    partial sums), the additive table equals a plain groupBy of the final
    main state; repos whose every file was deleted may remain as all-zero
    rows (negative deltas, no tombstones)."""
    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 4000)
    MicroBatchRunner(eng, epoch_size=1000, compact_every=2).run(events, table)

    got = {r["repo"]: (r["n_files"], r["total_bytes"])
           for r in agg_t.snapshot().collect()}
    expected = {r["repo"]: (r["n_files"], r["total_bytes"])
                for r in _expected_repo_stats(table)}
    for repo, vals in expected.items():
        assert got[repo] == vals, repo
    for repo in set(got) - set(expected):
        assert got[repo] == (0, 0), repo
    assert set(agg_t.committed_epochs()) == set(table.committed_epochs())
    # compaction folded the per-epoch delta layers
    assert len(agg_t.current_snapshot().get("deltas", [])) == 0


def test_aggregate_table_resumes_after_partial_commit(spark, tmp_path):
    """Crash between the main commit and the aggregate commit: the resume
    recovers the pre-epoch state by time travel (dense snapshot ids), so the
    recomputed deltas are identical and the view converges."""
    import pytest

    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 3000)
    eng.apply_epoch(events.filter(F.col("lsn") < 1500), table, epoch=0)

    ev2 = events.filter(F.col("lsn") >= 1500)
    orig_merge = agg_t.merge
    state = {"fail": True}

    def flaky(*a, **k):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("simulated crash before aggregate commit")
        return orig_merge(*a, **k)

    agg_t.merge = flaky
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.apply_epoch(ev2, table, epoch=1)
    assert "1" in table.committed_epochs()
    assert "1" not in agg_t.committed_epochs()

    # more state landed in the MAIN table between crash and resume is NOT
    # possible within an epoch protocol, but maintenance can be: compact the
    # main table to prove the pre-epoch read uses time travel, not current
    table.compact()

    r = eng.apply_epoch(ev2, table, epoch=1)
    assert r["derived_applied"] == ["repo_stats"]
    got = {r["repo"]: (r["n_files"], r["total_bytes"])
           for r in agg_t.snapshot().collect()}
    expected = {r["repo"]: (r["n_files"], r["total_bytes"])
                for r in _expected_repo_stats(table)}
    for repo, vals in expected.items():
        assert got[repo] == vals, repo
    for repo in set(got) - set(expected):
        assert got[repo] == (0, 0), repo
    # further re-run is a clean no-op
    assert eng.apply_epoch(ev2, table, epoch=1) == {"epoch": 1, "applied": False}


def test_aggregate_resume_refuses_expired_prestate(spark, tmp_path):
    """If the epoch's commit parent has been expired, the aggregate resume
    must FAIL LOUDLY (wrong pre-state would silently corrupt the view)."""
    import pytest

    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 2000)
    eng.apply_epoch(events.filter(F.col("lsn") < 1000), table, epoch=0)

    ev2 = events.filter(F.col("lsn") >= 1000)
    orig_merge = agg_t.merge
    agg_t.merge = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError, match="crash"):
        eng.apply_epoch(ev2, table, epoch=1)
    agg_t.merge = orig_merge

    # age the pre-state out of retention: extra commits + aggressive expiry
    eng.apply_epoch(events.limit(0), table, epoch=2)  # manifest-only commit
    table.compact()
    table.expire_snapshots(keep_last=1)

    with pytest.raises(ValueError, match="expired|retention"):
        eng.apply_epoch(ev2, table, epoch=1)


def test_minhash_index_incremental_equals_recompute(spark, tmp_path):
    """The incremental near-dup index converges to exactly what a full
    re-sketch of the final table state would produce: after a multi-epoch
    replay with inserts/updates/deletes, minhash_index_derive(final
    snapshot) == index snapshot. Also pins the edge cases: a doc with < 3
    tokens signs NULL, and deleted keys leave no index row."""
    from data_exchange_hl7_spark.engine import (
        MINHASH_INDEX_SCHEMA,
        minhash_index_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    idx = eng.derived_table("minhash_index", MINHASH_INDEX_SCHEMA, minhash_index_derive)
    events = change_events(spark, 4000)
    MicroBatchRunner(eng, epoch_size=1000).run(events, table)

    final = table.snapshot().withColumn("__op", F.lit("U"))
    expect = minhash_index_derive(final).drop("__op")
    got = idx.snapshot().select(*expect.columns)
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # short-content rows sign NULL (nothing to shingle) — present, not wrong
    assert got.count() == final.count()


def test_engine_purge_tombstones_whole_lineage(spark, tmp_path):
    """Engine.purge_where is the compliance-grade takedown: in ONE epoch it
    tombstones the matching main rows AND every registered derived table's
    rows for those keys AND emits retraction deltas to aggregate views —
    a bare LakeTable.delete_where would leave content-derived rows
    (content_sha256, MinHash signatures) and stale sums alive."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        MINHASH_INDEX_SCHEMA,
        REPO_STATS_SCHEMA,
        file_stats_derive,
        minhash_index_derive,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    idx_t = eng.derived_table("minhash_index", MINHASH_INDEX_SCHEMA, minhash_index_derive)
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 3000)
    MicroBatchRunner(eng, epoch_size=1500).run(events, table)

    victim = table.snapshot().select("repo").first()["repo"]
    n_before = table.snapshot().filter(F.col("repo") == victim).count()
    assert n_before > 0
    assert stats_t.snapshot().filter(F.col("repo") == victim).count() == n_before
    assert idx_t.snapshot().filter(F.col("repo") == victim).count() == n_before

    r = eng.purge_where(table, f"repo = '{victim}'", epoch=9000)
    assert r["applied"]
    assert set(r["derived_applied"]) == {"file_stats", "minhash_index", "repo_stats"}

    assert table.snapshot().filter(F.col("repo") == victim).count() == 0
    assert stats_t.snapshot().filter(F.col("repo") == victim).count() == 0
    assert idx_t.snapshot().filter(F.col("repo") == victim).count() == 0
    agg_row = agg_t.snapshot().filter(F.col("repo") == victim).collect()
    assert len(agg_row) == 1 and (agg_row[0]["n_files"], agg_row[0]["total_bytes"]) == (0, 0)
    # untouched repos keep exact aggregate parity with the main state
    got = {r["repo"]: (r["n_files"], r["total_bytes"])
           for r in agg_t.snapshot().collect()}
    for row in _expected_repo_stats(table):
        assert got[row["repo"]] == (row["n_files"], row["total_bytes"]), row["repo"]
    # idempotent replay of the purge epoch
    assert eng.purge_where(table, f"repo = '{victim}'", epoch=9000) == {
        "epoch": 9000, "applied": False, "quarantine_swept": 0, "rejects_swept": 0,
    }


def test_engine_purge_resumes_after_partial_commit(spark, tmp_path):
    """Crash between the purge's main commit and a derived commit: on
    re-run the change frame is recomputed from the PRE-purge state (time
    travel — the matching rows are already gone from current), so the late
    derived tombstones land identically and the lineage converges."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    events = change_events(spark, 2000)
    eng.apply_epoch(events, table, epoch=0)

    victim = table.snapshot().select("repo").first()["repo"]
    orig_merge = stats_t.merge
    state = {"fail": True}

    def flaky(*a, **k):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("simulated crash before derived purge commit")
        return orig_merge(*a, **k)

    stats_t.merge = flaky
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.purge_where(table, f"repo = '{victim}'", epoch=9000)
    assert "9000" in table.committed_epochs()
    assert "9000" not in stats_t.committed_epochs()
    assert table.snapshot().filter(F.col("repo") == victim).count() == 0
    # derived rows still alive — the partial state a real crash leaves
    assert stats_t.snapshot().filter(F.col("repo") == victim).count() > 0

    # compact the main table between crash and resume to prove the pre-state
    # read time-travels rather than reading current
    table.compact()
    r = eng.purge_where(table, f"repo = '{victim}'", epoch=9000)
    assert r["derived_applied"] == ["file_stats"]
    assert stats_t.snapshot().filter(F.col("repo") == victim).count() == 0
    assert eng.purge_where(table, f"repo = '{victim}'", epoch=9000) == {
        "epoch": 9000, "applied": False, "quarantine_swept": 0, "rejects_swept": 0,
    }


def test_engine_redact_rederives_lineage(spark, tmp_path):
    """Engine.redact_where scrubs content in place (upserts), recomputes the
    sha/size invariant, and re-derives every registered derived table from
    the REDACTED rows in the same epoch — the old text stops matching the
    incremental MinHash index."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        MINHASH_INDEX_SCHEMA,
        file_stats_derive,
        minhash_index_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    idx_t = eng.derived_table("minhash_index", MINHASH_INDEX_SCHEMA, minhash_index_derive)
    events = change_events(spark, 2000)
    eng.apply_epoch(events, table, epoch=0)

    victim = table.snapshot().select("repo").first()["repo"]
    pred = f"repo = '{victim}'"
    r = eng.redact_where(table, pred, {"content": "'[REDACTED]'"}, epoch=9001)
    assert r["applied"]

    import hashlib
    want_sha = hashlib.sha256(b"[REDACTED]").hexdigest()
    rows = table.snapshot().filter(pred).collect()
    assert rows and all(
        x["content"] == "[REDACTED]"
        and x["content_sha256"] == want_sha
        and x["size_bytes"] == len("[REDACTED]")
        for x in rows
    )
    # derived tables re-derived from the redacted rows, not left stale
    final = table.snapshot().withColumn("__op", F.lit("U"))
    expect_stats = file_stats_derive(final).drop("__op")
    got_stats = stats_t.snapshot().select(*expect_stats.columns)
    assert got_stats.exceptAll(expect_stats).count() == 0
    assert expect_stats.exceptAll(got_stats).count() == 0
    expect_idx = minhash_index_derive(final).drop("__op")
    got_idx = idx_t.snapshot().select(*expect_idx.columns)
    assert got_idx.exceptAll(expect_idx).count() == 0
    assert expect_idx.exceptAll(got_idx).count() == 0


def test_rebuild_derived_stage_scoped_replay(spark, tmp_path):
    """Stage-scoped replay re-entry (ReplayController.kt:100-139 replays
    from a NAMED starting process): Engine.rebuild_derived reconstructs a
    registered derived table from the MAIN table's change data feed only —
    no WAL re-scan, no base re-merge — and the rebuilt table is
    row-identical to the original across multiple epochs that include
    schema-evolution events and rename/delete interleavings. The rebuild is
    also resumable: a second call no-ops on the target's epoch manifest."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        REPO_STATS_SCHEMA,
        Engine,
        file_stats_derive,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 3000)
    for epoch in range(3):
        sl = events.filter(
            (F.col("lsn") >= epoch * 1000) & (F.col("lsn") < (epoch + 1) * 1000)
        )
        eng.apply_epoch(sl, table, epoch=epoch)

    main_sid_before = table.current_snapshot()["snapshot_id"]

    rebuilt = eng.rebuild_derived(table, "file_stats")
    assert sorted(rebuilt.snapshot().collect()) == sorted(
        stats_t.snapshot().collect()
    )
    # the base was never touched and the original derived table either
    assert table.current_snapshot()["snapshot_id"] == main_sid_before
    # replay provenance carries the named starting process per epoch
    epochs = rebuilt.committed_epochs()
    assert set(epochs) == set(stats_t.committed_epochs())
    assert all(
        e["replay"]["starting_process"] == "derive:file_stats"
        for e in epochs.values()
    )
    # resumable: a re-run skips every committed epoch (no new snapshot)
    sid = rebuilt.current_snapshot()["snapshot_id"]
    again = eng.rebuild_derived(table, "file_stats")
    assert again.current_snapshot()["snapshot_id"] == sid

    # aggregate views rebuild through the pre-epoch time-travel path
    rebuilt_agg = eng.rebuild_derived(table, "repo_stats")
    assert sorted(rebuilt_agg.snapshot().collect()) == sorted(
        agg_t.snapshot().collect()
    )

    # unknown stage name is a loud error, not an empty table
    import pytest

    with pytest.raises(ValueError, match="no derived table"):
        eng.rebuild_derived(table, "nope")


def test_engine_rollback_cascades_lineage(spark, tmp_path):
    """Engine.rollback rewinds the WHOLE lineage: main table, derived table,
    and aggregate view all land on states matching the restored epoch
    ledger; the corrected batch then re-applies under the SAME epoch id and
    the final lineage equals a control engine that never saw the bad batch.
    Re-invoking rollback after the cascade (crash-resume) is a pure no-op."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        REPO_STATS_SCHEMA,
        Engine,
        file_stats_derive,
        repo_stats_delta,
    )

    def build(wh):
        eng = Engine(spark, str(tmp_path / wh), n_buckets=8)
        t = eng.snapshot_table("repo_files")
        d = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
        a = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
        return eng, t, d, a

    ev = change_events(spark, 3000).persist()
    good2 = ev.filter(F.col("lsn") >= 2000)
    bad2 = good2.withColumn("content", F.lit("POISONED"))

    eng, t, d, a = build("wh")
    MicroBatchRunner(eng, epoch_size=1000).run(ev.filter(F.col("lsn") < 2000), t)
    pre_sid = t.current_snapshot()["snapshot_id"]
    eng.apply_epoch(bad2, t, epoch=2, start_lsn=2000, end_lsn=2999)
    assert t.snapshot().filter(F.col("content") == "POISONED").count() > 0

    res = eng.rollback(t, pre_sid)
    assert res["repo_files"]["rolled_back"]
    assert res["file_stats"]["rolled_back"] and res["repo_stats"]["rolled_back"]
    for tab in (t, d, a):
        assert set(tab.committed_epochs()) == {"0", "1"}
    assert t.snapshot().filter(F.col("content") == "POISONED").count() == 0

    # crash-resume: a second invocation must not stack more rollback commits
    res2 = eng.rollback(t, pre_sid)
    assert not any(v["rolled_back"] for v in res2.values())

    eng.apply_epoch(good2, t, epoch=2, start_lsn=2000, end_lsn=2999)

    ctrl, ct, cd, ca = build("wh_ctrl")
    MicroBatchRunner(ctrl, epoch_size=1000).run(ev, ct)
    for mine, theirs in ((t, ct), (d, cd), (a, ca)):
        got = sorted(map(tuple, mine.snapshot().collect()))
        want = sorted(map(tuple, theirs.snapshot().collect()))
        assert got == want
    ev.unpersist()


def test_rebuild_derived_after_rollback_uses_corrected_epoch(spark, tmp_path):
    """Rollback/replay interplay: after a poisoned epoch is rolled off and
    the SAME epoch id recommitted with corrected data, the stage-scoped
    rebuild must replay the CORRECTED commit — the rollback-aware epoch
    walk; without it the oldest-first walk credits the epoch to its
    poisoned first commit and the rebuilt derived table resurrects the bad
    rows. Covers the aggregate pre-epoch path through the same walk."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        REPO_STATS_SCHEMA,
        Engine,
        file_stats_derive,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 2000).persist()
    good1 = events.filter(F.col("lsn") >= 1000)

    eng.apply_epoch(events.filter(F.col("lsn") < 1000), table, epoch=0)
    pre_sid = table.current_snapshot()["snapshot_id"]
    eng.apply_epoch(good1.withColumn("content", F.lit("POISONED")), table, epoch=1)
    eng.rollback(table, pre_sid)
    eng.apply_epoch(good1, table, epoch=1)

    # the walk resolves epoch 1 to the corrected commit, not the poisoned one
    commits = {e: sid for e, sid, _p in eng._epoch_commits(table)}
    assert commits[1] == table.current_snapshot()["snapshot_id"]

    rebuilt = eng.rebuild_derived(table, "file_stats")
    assert rebuilt.snapshot().filter(F.col("content_sha256").isNull()).count() == 0
    assert sorted(rebuilt.snapshot().collect()) == sorted(stats_t.snapshot().collect())

    rebuilt_agg = eng.rebuild_derived(table, "repo_stats")
    assert sorted(rebuilt_agg.snapshot().collect()) == sorted(agg_t.snapshot().collect())
    events.unpersist()


# ---------------------------------------------------------- branch publish
def test_publish_maintains_derived_and_aggregate(spark, tmp_path):
    """Engine.publish = fast_forward + lineage maintenance: epochs applied
    on an audit branch (where NO derived maintenance runs — the branch is a
    different table name) land on the parent as one commit, and every
    registered derived table / aggregate view is then maintained PER EPOCH
    from the branch's own change feed. Invariants: derived == derive(final
    main), aggregate == groupBy(final main), epoch sets all equal."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        REPO_STATS_SCHEMA,
        file_stats_derive,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 4000).persist()
    eng.apply_epoch(events.filter(F.col("lsn") < 1000), table, epoch=0)
    eng.apply_epoch(
        events.filter((F.col("lsn") >= 1000) & (F.col("lsn") < 2000)), table, epoch=1
    )

    b = table.branch(str(tmp_path / "audit"), name="audit")
    eng.apply_epoch(
        events.filter((F.col("lsn") >= 2000) & (F.col("lsn") < 3000)), b, epoch=2
    )
    eng.apply_epoch(events.filter(F.col("lsn") >= 3000), b, epoch=3)
    # audit isolation: deriveds saw nothing from the branch epochs
    assert set(stats_t.committed_epochs()) == {"0", "1"}

    res = eng.publish(table, b)
    assert res["fast_forwarded"]
    assert sorted(res["derived_applied"]) == [
        "file_stats:2", "file_stats:3", "repo_stats:2", "repo_stats:3",
    ]
    assert set(table.committed_epochs()) == {"0", "1", "2", "3"}
    assert set(stats_t.committed_epochs()) == {"0", "1", "2", "3"}
    assert set(agg_t.committed_epochs()) == {"0", "1", "2", "3"}

    body = F.coalesce(F.col("content"), F.lit(""))
    expected_stats = sorted(
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
    assert sorted(stats_t.snapshot().collect()) == expected_stats

    got = {r["repo"]: (r["n_files"], r["total_bytes"])
           for r in agg_t.snapshot().collect()}
    expected = {r["repo"]: (r["n_files"], r["total_bytes"])
                for r in _expected_repo_stats(table)}
    for repo, vals in expected.items():
        assert got[repo] == vals, repo
    for repo in set(got) - set(expected):
        assert got[repo] == (0, 0), repo

    # report sidecar continuity: the branch epochs' metrics and lineage rows
    # (written under the branch's name during the audit) now answer under
    # the PARENT's name — no holes in the per-epoch report after publish
    assert {r["epoch"] for r in eng.metrics("repo_files").collect()} == {0, 1, 2, 3}
    lineage_epochs = {r["epoch"] for r in eng.lineage("repo_files").collect()}
    assert lineage_epochs == {0, 1, 2, 3}
    events.unpersist()


def test_publish_resumes_after_partial_commit(spark, tmp_path):
    """Crash between the fast_forward commit and a derived merge: re-running
    publish skips the main publish (retired marker) and applies only the
    missing derived epochs from the branch's immutable delta layers."""
    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 3000).persist()
    eng.apply_epoch(events.filter(F.col("lsn") < 1500), table, epoch=0)

    b = table.branch(str(tmp_path / "audit"), name="audit")
    eng.apply_epoch(events.filter(F.col("lsn") >= 1500), b, epoch=1)

    orig_merge = agg_t.merge
    state = {"fail": True}

    def flaky(*a, **k):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("simulated crash after fast_forward")
        return orig_merge(*a, **k)

    agg_t.merge = flaky
    with pytest.raises(RuntimeError):
        eng.publish(table, b)
    # the fast_forward itself landed; the aggregate is behind
    assert set(table.committed_epochs()) == {"0", "1"}
    assert set(agg_t.committed_epochs()) == {"0"}

    res = eng.publish(table, b)
    assert res["resumed"] and not res["fast_forwarded"]
    assert res["derived_applied"] == ["repo_stats:1"]
    got = {r["repo"]: (r["n_files"], r["total_bytes"])
           for r in agg_t.snapshot().collect()}
    expected = {r["repo"]: (r["n_files"], r["total_bytes"])
                for r in _expected_repo_stats(table)}
    for repo, vals in expected.items():
        assert got[repo] == vals, repo
    events.unpersist()


def test_rebuild_derived_after_multi_epoch_publish(spark, tmp_path):
    """Stage-scoped replay across a fast_forward commit: two branch epochs
    share ONE main-table commit, so rebuild_derived must recover each
    epoch's frame from the branch's delta layers — feeding the combined
    commit delta once per epoch would double-count the aggregate. With the
    branch dropped, the multi-epoch rebuild must refuse loudly."""
    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 3000).persist()
    eng.apply_epoch(events.filter(F.col("lsn") < 1000), table, epoch=0)

    b = table.branch(str(tmp_path / "audit"), name="audit")
    eng.apply_epoch(
        events.filter((F.col("lsn") >= 1000) & (F.col("lsn") < 2000)), b, epoch=1
    )
    eng.apply_epoch(events.filter(F.col("lsn") >= 2000), b, epoch=2)
    eng.publish(table, b)

    rebuilt = eng.rebuild_derived(table, "repo_stats")
    assert sorted(rebuilt.snapshot().collect()) == sorted(agg_t.snapshot().collect())

    b.drop()
    rebuilt.drop()
    with pytest.raises(ValueError, match="fast_forward"):
        eng.rebuild_derived(table, "repo_stats")
    events.unpersist()


def test_rollback_past_publish_then_republish(spark, tmp_path):
    """Interplay of the two lineage recovery primitives: Engine.rollback
    PAST a published fast_forward commit rolls the branch epochs off the
    main ledger AND rewinds the aggregate view (ledger-subset cascade);
    because the retired branch's epochs are no longer committed, a fresh
    fork + re-apply + re-publish then converges to the same final state."""
    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 3000).persist()
    eng.apply_epoch(events.filter(F.col("lsn") < 1000), table, epoch=0)
    pre_sid = table.current_snapshot()["snapshot_id"]

    slice1 = events.filter((F.col("lsn") >= 1000) & (F.col("lsn") < 2000))
    slice2 = events.filter(F.col("lsn") >= 2000)
    b1 = table.branch(str(tmp_path / "audit1"), name="audit1")
    eng.apply_epoch(slice1, b1, epoch=1)
    eng.apply_epoch(slice2, b1, epoch=2)
    eng.publish(table, b1)
    published = sorted(
        (r["repo"], r["path"], r["content_sha256"])
        for r in table.snapshot().collect()
    )
    agg_published = sorted(agg_t.snapshot().collect())

    # the audit verdict arrives late: roll the published epochs back off
    eng.rollback(table, pre_sid)
    assert set(table.committed_epochs()) == {"0"}
    assert set(agg_t.committed_epochs()) == {"0"}

    # corrected audit: fresh fork, re-apply, re-publish — converges
    b2 = table.branch(str(tmp_path / "audit2"), name="audit2")
    eng.apply_epoch(slice1, b2, epoch=1)
    eng.apply_epoch(slice2, b2, epoch=2)
    eng.publish(table, b2)
    got = sorted(
        (r["repo"], r["path"], r["content_sha256"])
        for r in table.snapshot().collect()
    )
    assert got == published
    assert sorted(agg_t.snapshot().collect()) == agg_published
    events.unpersist()


def test_publish_resume_drops_leaked_pin_tag(spark, tmp_path):
    """Crash between the retire marker and fast_forward's tag drop leaks
    the fork-base pin (unbounded expiry retention + the branch name becomes
    unusable); the resumed Engine.publish must finish the bookkeeping."""
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    events = change_events(spark, 2000).persist()
    eng.apply_epoch(events.filter(F.col("lsn") < 1000), table, epoch=0)
    base_sid = table.current_snapshot()["snapshot_id"]

    b = table.branch(str(tmp_path / "audit"), name="audit")
    eng.apply_epoch(events.filter(F.col("lsn") >= 1000), b, epoch=1)
    eng.publish(table, b)
    # reconstruct the crash state: marker written, tag drop lost
    table.create_tag("__branch_audit", base_sid)

    res = eng.publish(table, b)
    assert res["resumed"]
    assert "__branch_audit" not in table.tags()
    events.unpersist()


def test_publish_of_branch_with_nested_fast_forward(spark, tmp_path):
    """A branch that itself absorbed a multi-epoch sub-branch: the publish's
    per-epoch maintenance must recover each epoch's frame from the
    sub-branch (the folded fast-forward delta fed once per epoch would
    double-count the aggregate); with the sub-branch dropped it must refuse
    loudly instead of silently double-counting."""
    from data_exchange_hl7_spark.engine import (
        REPO_STATS_SCHEMA,
        Engine,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    events = change_events(spark, 3000).persist()
    eng.apply_epoch(events.filter(F.col("lsn") < 1000), table, epoch=0)

    b = table.branch(str(tmp_path / "audit"), name="audit")
    b2 = b.branch(str(tmp_path / "audit_sub"), name="sub")
    eng.apply_epoch(
        events.filter((F.col("lsn") >= 1000) & (F.col("lsn") < 2000)), b2, epoch=1
    )
    eng.apply_epoch(events.filter(F.col("lsn") >= 2000), b2, epoch=2)
    b.fast_forward(b2)  # folds epochs 1+2 into ONE branch commit

    eng.publish(table, b)
    got = {r["repo"]: (r["n_files"], r["total_bytes"])
           for r in agg_t.snapshot().collect()}
    expected = {r["repo"]: (r["n_files"], r["total_bytes"])
                for r in _expected_repo_stats(table)}
    for repo, vals in expected.items():
        assert got[repo] == vals, repo

    # the refusal path: same topology, sub-branch dropped before publish
    eng2 = Engine(spark, str(tmp_path / "wh2"), n_buckets=8)
    t2 = eng2.snapshot_table("repo_files")
    eng2.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    eng2.apply_epoch(events.filter(F.col("lsn") < 1000), t2, epoch=0)
    c = t2.branch(str(tmp_path / "c"), name="audit")
    c2 = c.branch(str(tmp_path / "c_sub"), name="sub")
    eng2.apply_epoch(
        events.filter((F.col("lsn") >= 1000) & (F.col("lsn") < 2000)), c2, epoch=1
    )
    eng2.apply_epoch(events.filter(F.col("lsn") >= 2000), c2, epoch=2)
    c.fast_forward(c2)
    c2.drop()
    with pytest.raises(ValueError, match="fast_forward"):
        eng2.publish(t2, c)
    events.unpersist()


def test_purge_refuses_when_deriveds_not_reregistered(spark, tmp_path):
    """The durable warehouse registry records every derived table ever
    registered; a purge from a NEW process (fresh Engine, no derive fns)
    must refuse rather than silently sweep only the main table — the
    compliance failure mode of a CLI/cron purge against a warehouse whose
    deriveds were registered by the library pipeline. main_only=True is the
    deliberate override."""
    import pytest as _pytest

    from data_exchange_hl7_spark.engine import (
        MINHASH_INDEX_SCHEMA,
        minhash_index_derive,
    )

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh, n_buckets=4)
    table = eng.snapshot_table("repo_files")
    idx_t = eng.derived_table("minhash_index", MINHASH_INDEX_SCHEMA, minhash_index_derive)
    events = change_events(spark, 1500)
    MicroBatchRunner(eng, epoch_size=1500).run(events, table)
    victim = table.snapshot().select("repo").first()["repo"]

    # fresh process: new Engine on the same warehouse, nothing re-registered
    eng2 = Engine(spark, wh, n_buckets=4)
    t2 = eng2.snapshot_table("repo_files")
    assert set(eng2.registered_derived("repo_files")) == {"minhash_index"}
    with _pytest.raises(RuntimeError, match="minhash_index"):
        eng2.purge_where(t2, f"repo = '{victim}'", epoch=9100)
    # nothing was swept by the refused call
    assert t2.snapshot().filter(F.col("repo") == victim).count() > 0

    # deliberate main-only override works and says so
    r = eng2.purge_where(t2, f"repo = '{victim}'", epoch=9100, main_only=True)
    assert r["applied"]
    assert t2.snapshot().filter(F.col("repo") == victim).count() == 0
    # the derived rows are (by design of the override) still alive
    assert idx_t.snapshot().filter(F.col("repo") == victim).count() > 0

    # re-registering + re-running the SAME epoch completes the cascade via
    # the partial-commit resume path (the change frame is recomputed from
    # the PRE-purge snapshot, so the derived tombstones land even though
    # the main rows are already gone) — a main-only purge is recoverable
    eng2.derived_table("minhash_index", MINHASH_INDEX_SCHEMA, minhash_index_derive)
    eng2.purge_where(t2, f"repo = '{victim}'", epoch=9100)
    assert idx_t.snapshot().filter(F.col("repo") == victim).count() == 0


def test_apply_epoch_releases_persisted_frames(spark, tmp_path):
    """apply_epoch persists the validated slice per epoch and MUST release
    it — the metrics Observation rebinds the frame (CollectMetrics node),
    so unpersisting the rebound handle leaked one cached epoch per apply
    (regression: 3 leaked frames after 3 epochs before the fix)."""
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    t = eng.snapshot_table("repo_files")
    MicroBatchRunner(eng, epoch_size=1000).run(change_events(spark, 3000), t)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_check_constraints_gate_before_derived_fanout(spark, tmp_path):
    """CHECK constraints on the engine's main table gate BEFORE the derived
    fan-out: the main table, the derived table, and the quarantine sidecar
    partition the epoch's change keys consistently (a quarantined row must
    never surface in a derived table — the purge-cascade consistency
    class)."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    table.add_check_constraint("size_mod3", "size_bytes % 3 <> 0")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    events = change_events(spark, 3000)
    res = MicroBatchRunner(eng, epoch_size=1500).run(events, table)
    assert sum(r.get("quarantined", 0) for r in res) > 0

    main_keys = {
        (r["repo"], r["path"]) for r in table.snapshot().select("repo", "path").collect()
    }
    derived_keys = {
        (r["repo"], r["path"])
        for r in stats_t.snapshot().select("repo", "path").collect()
    }
    assert derived_keys == main_keys
    # every live row satisfies the constraint; every quarantined row breaks it
    assert (
        table.snapshot().filter(F.expr("size_bytes % 3 = 0")).count() == 0
    )
    q = table.quarantine()
    assert q.count() > 0
    assert q.filter(F.expr("size_bytes % 3 <> 0")).count() == 0
    # quarantined keys absent from BOTH outputs unless a later epoch's
    # passing row landed them (check per-epoch: a key quarantined in the
    # FINAL epoch with no passing row anywhere must be absent)
    last_epoch = max(int(e) for e in table.committed_epochs())
    final_q_keys = {
        (r["repo"], r["path"])
        for r in q.filter(F.col("epoch") == last_epoch).select("repo", "path").collect()
    }
    landed_anywhere = main_keys | derived_keys
    for k in final_q_keys:
        # if present, it must be from an earlier passing version, which the
        # derived table must agree on (already asserted by set equality)
        assert (k in landed_anywhere) == (k in main_keys)


def test_reprocess_quarantine_redrive(spark, tmp_path):
    """Dead-letter workflow for CHECK constraints: quarantined rows are
    re-synthesized into WAL envelopes and re-driven through the NORMAL
    apply after dropping the constraint — derived tables are maintained for
    the re-drive epoch, and a still-violating row (constraint kept) goes
    straight back to quarantine instead of merging."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        Engine,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    table.add_check_constraint("size_mod3", "size_bytes % 3 <> 0")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    events = change_events(spark, 2000)
    r = eng.apply_epoch(events, table, epoch=0, collect_metrics=False)
    nq = r["quarantined"]
    assert nq > 0
    before = table.snapshot().count()

    # re-drive with the constraint still active: everything returns to
    # quarantine (epoch 1's sidecar), nothing merges
    r1 = eng.reprocess_quarantine(table, epoch=1)
    assert r1["quarantined"] == nq
    assert table.snapshot().count() == before

    # drop the constraint and re-drive: rows land, deriveds follow
    table.drop_check_constraint("size_mod3")
    r2 = eng.reprocess_quarantine(table, epoch=2, source_epochs=[0])
    assert r2.get("quarantined") is None  # no constraints -> no gate
    after = table.snapshot().count()
    assert after > before
    main_keys = {
        (x["repo"], x["path"]) for x in table.snapshot().select("repo", "path").collect()
    }
    derived_keys = {
        (x["repo"], x["path"])
        for x in stats_t.snapshot().select("repo", "path").collect()
    }
    assert main_keys == derived_keys
    # the re-driven rows carry their ORIGINAL lsn, so a newer live version
    # can never be clobbered (checked implicitly: set equality above uses
    # the resolved latest state)


def test_purge_and_redact_sweep_quarantine_sidecar(spark, tmp_path):
    """Compliance reaches the quarantine sidecar: a purge removes matching
    diverted payloads; a redact rewrites them (content invariants
    recomputed); the sweep is idempotent on re-run. Quarantine dirs written
    before and after add_column / widen_column are swept alike, and each
    keeps its own columns and types."""
    from data_exchange_hl7_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    table.add_check_constraint("size_mod3", "size_bytes % 3 <> 0")
    events = change_events(spark, 4000)
    r = eng.apply_epoch(events.filter("lsn < 2000"), table, epoch=0, collect_metrics=False)
    assert r["quarantined"] > 0
    # evolve through the engine's DDL path, as the WAL's SCHEMA_* events do
    eng._apply_schema_events(
        table,
        [
            {"op": "SCHEMA_ADD", "schema_field": "note", "lsn": 1999},
            {"op": "SCHEMA_WIDEN", "schema_field": "size_bytes", "lsn": 1999},
        ],
    )
    r = eng.apply_epoch(events.filter("lsn >= 2000"), table, epoch=1, collect_metrics=False)
    assert r["quarantined"] > 0
    qroot = os.path.join(table.location, "_quarantine")

    def dir_types(e):
        schema = spark.read.parquet(f"{qroot}/epoch={e}").schema
        return {f.name: f.dataType.simpleString() for f in schema}

    assert "note" not in dir_types(0) and dir_types(1)["note"] == "string"
    assert (dir_types(0)["size_bytes"], dir_types(1)["size_bytes"]) == ("int", "bigint")
    q_repos = [
        {x["repo"] for x in spark.read.parquet(f"{qroot}/epoch={e}").select("repo").collect()}
        for e in (0, 1)
    ]
    victim = sorted(q_repos[0] & q_repos[1])[0]
    n_victim_q = table.quarantine().filter(F.col("repo") == victim).count()
    assert n_victim_q > 0

    p = eng.purge_where(table, f"repo = '{victim}'", epoch=2)
    assert p["quarantine_swept"] == n_victim_q
    assert table.quarantine().filter(F.col("repo") == victim).count() == 0
    # idempotent re-run (epoch committed): merges no-op, sweep finds nothing
    p2 = eng.purge_where(table, f"repo = '{victim}'", epoch=2)
    assert not p2["applied"] and p2["quarantine_swept"] == 0
    assert "note" not in dir_types(0) and dir_types(1)["note"] == "string"
    assert (dir_types(0)["size_bytes"], dir_types(1)["size_bytes"]) == ("int", "bigint")

    # redact: rewrite content in the sidecar, sha/size recomputed (the
    # replacement's 10 bytes satisfy size_mod3: a rewrite that breaks a
    # constraint is refused before any write)
    target = sorted((q_repos[0] & q_repos[1]) - {victim})[0]
    rr = eng.redact_where(
        table, f"repo = '{target}'", {"content": "'<REDACTED>'"}, epoch=3
    )
    assert rr["quarantine_swept"] > 0
    assert (dir_types(0)["size_bytes"], dir_types(1)["size_bytes"]) == ("int", "bigint")
    got = (
        table.quarantine()
        .filter(F.col("repo") == target)
        .select("content", "content_sha256")
        .distinct()
        .collect()
    )
    assert {g["content"] for g in got} == {"<REDACTED>"}
    import hashlib

    assert {g["content_sha256"] for g in got} == {
        hashlib.sha256(b"<REDACTED>").hexdigest()
    }


def test_purge_and_redact_sweep_rejects_sidecar(spark, tmp_path):
    """Compliance reaches the dead-letter sidecar: rejected events keep
    their full WAL envelope (content included) under _rejects, so a purge
    must remove a repo's rejected events and a redact must rewrite them,
    with content_sha256 recomputed — otherwise reprocess_rejects would
    re-drive the purged payloads."""
    import hashlib

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    eng.apply_epoch(change_events(spark, 4000), table, epoch=0)
    per_repo = [
        (r["repo"], r["count"])
        for r in eng.rejects().filter(F.col("repo").isNotNull())
        .groupBy("repo").count().orderBy(F.desc("count"), "repo").limit(2).collect()
    ]
    assert len(per_repo) == 2, "the generator must reject events of two repos"
    (purged, n_purged), (redacted, n_redacted) = per_repo

    p = eng.purge_where(table, f"repo = '{purged}'", epoch=1)
    assert p["rejects_swept"] == n_purged
    assert eng.rejects().filter(F.col("repo") == purged).count() == 0
    assert table.snapshot().filter(F.col("repo") == purged).count() == 0
    # idempotent re-run: the sweep finds nothing left
    assert eng.purge_where(table, f"repo = '{purged}'", epoch=1)["rejects_swept"] == 0

    # a misspelt column is refused before any write, on the resume path of
    # a committed epoch too (its sidecar sweep would rewrite reject rows)
    sid = table.current_snapshot()["snapshot_id"]
    for epoch in (2, 1):
        with pytest.raises(ValueError, match="contnet"):
            eng.redact_where(
                table, f"repo = '{redacted}'", {"contnet": "'<REDACTED>'"}, epoch=epoch
            )
    assert table.current_snapshot()["snapshot_id"] == sid

    r = eng.redact_where(
        table, f"repo = '{redacted}'", {"content": "'<REDACTED>'"}, epoch=2
    )
    assert r["rejects_swept"] == n_redacted
    got = eng.rejects().filter(F.col("repo") == redacted).collect()
    assert len(got) == n_redacted
    assert {g["content"] for g in got} == {"<REDACTED>"}
    assert {g["content_sha256"] for g in got} == {
        hashlib.sha256(b"<REDACTED>").hexdigest()
    }


def test_engine_merge_into_cascades_lineage(spark, tmp_path):
    """Engine.merge_into routes the compiled clause frame through the main
    merge AND every registered derived table / aggregate view in one epoch:
    clause-driven deletes drop the derived signature rows, clause updates
    re-derive them, and the sum view stays exact — the consistency contract
    a bare LakeTable.merge_into cannot give once deriveds exist."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        REPO_STATS_SCHEMA,
        file_stats_derive,
        repo_stats_delta,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    agg_t = eng.aggregate_table("repo_stats", REPO_STATS_SCHEMA, repo_stats_delta)
    eng.apply_epoch(change_events(spark, 3000), table, epoch=0)

    victim = table.snapshot().select("repo").first()["repo"]
    src = (
        table.snapshot()
        .filter(F.col("repo") == victim)
        .select("repo", "path", F.lit("MERGEINTO").alias("content"))
        .persist()
    )
    clauses = dict(
        when_matched=[
            {"condition": "t.size_bytes % 2 = 0", "action": "delete"},
            {
                "condition": None,
                "action": "update",
                "set": {
                    "content": "s.content",
                    "content_sha256": "sha2(s.content, 256)",
                    "size_bytes": "CAST(length(s.content) AS INT)",
                },
            },
        ],
    )
    r = eng.merge_into(table, src, **clauses, epoch=9000)
    assert r["applied"]
    assert set(r["derived_applied"]) == {"file_stats", "repo_stats"}

    main_victim = table.snapshot().filter(F.col("repo") == victim)
    assert main_victim.filter(F.col("size_bytes") % 2 == 0).count() == 0
    n_updated = main_victim.count()
    assert n_updated > 0
    assert (
        main_victim.filter(F.col("content") == "MERGEINTO").count() == n_updated
    )
    # derived table: deleted keys gone, survivors carry the re-derived sha
    der_victim = stats_t.snapshot().filter(F.col("repo") == victim)
    assert der_victim.count() == n_updated
    import hashlib

    new_sha = hashlib.sha256(b"MERGEINTO").hexdigest()
    assert der_victim.filter(F.col("content_sha256") == new_sha).count() == n_updated
    # aggregate view: exact parity with a recompute over the merged state
    got = {
        r["repo"]: (r["n_files"], r["total_bytes"])
        for r in agg_t.snapshot().collect()
    }
    for row in _expected_repo_stats(table):
        assert got[row["repo"]] == (row["n_files"], row["total_bytes"]), row["repo"]
    # idempotent replay
    assert eng.merge_into(table, src, **clauses, epoch=9000) == {
        "epoch": 9000,
        "applied": False,
    }
    src.unpersist()

    # a process that has not re-registered the deriveds must be refused
    eng_bare = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    t_bare = eng_bare.snapshot_table("repo_files")
    with pytest.raises(RuntimeError, match="would MISS derived tables"):
        eng_bare.merge_into(t_bare, src, **clauses, epoch=9001)


def test_engine_merge_into_resumes_after_partial_commit(spark, tmp_path):
    """Crash between the main merge and a derived commit: the resumed call
    recompiles the clause frame against the PRE-epoch target state (the
    matched rows already changed in current), so the late derived merge
    lands the identical rows and the lineage converges."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    eng.apply_epoch(change_events(spark, 2000), table, epoch=0)
    victim = table.snapshot().select("repo").first()["repo"]
    # determinism contract: the caller re-presents the SAME source on
    # resume — materialize it so it cannot drift with the table state
    src_rows = (
        table.snapshot()
        .filter(F.col("repo") == victim)
        .select("repo", "path")
        .collect()
    )
    src = spark.createDataFrame(src_rows, "repo string, path string")
    clauses = dict(when_matched=[{"condition": None, "action": "delete"}])

    orig_merge = stats_t.merge
    state = {"fail": True}

    def flaky(*a, **k):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("simulated crash before derived merge commit")
        return orig_merge(*a, **k)

    stats_t.merge = flaky
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.merge_into(table, src, **clauses, epoch=9000)
    assert "9000" in table.committed_epochs()
    assert "9000" not in stats_t.committed_epochs()
    assert table.snapshot().filter(F.col("repo") == victim).count() == 0
    assert stats_t.snapshot().filter(F.col("repo") == victim).count() > 0

    r = eng.merge_into(table, src, **clauses, epoch=9000)
    assert r["derived_applied"] == ["file_stats"]
    assert stats_t.snapshot().filter(F.col("repo") == victim).count() == 0


def test_engine_merge_into_atomic_publishes_lineage_together(spark, tmp_path):
    """atomic=True publishes the clause merge and the derived merge from one
    multi-table transaction — end state identical to the convergent path,
    with the txn id in the stats."""
    from data_exchange_hl7_spark.engine import (
        FILE_STATS_SCHEMA,
        file_stats_derive,
    )

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    eng.apply_epoch(change_events(spark, 2000), table, epoch=0)
    victim = table.snapshot().select("repo").first()["repo"]
    src = spark.createDataFrame(
        table.snapshot().filter(F.col("repo") == victim).select("repo", "path").collect(),
        "repo string, path string",
    )
    clauses = dict(when_matched=[{"condition": None, "action": "delete"}])
    r = eng.merge_into(table, src, **clauses, epoch=9000, atomic=True)
    assert r["applied"] and "txn_id" in r
    assert table.snapshot().filter(F.col("repo") == victim).count() == 0
    assert stats_t.snapshot().filter(F.col("repo") == victim).count() == 0
    # idempotent replay after the atomic publish
    assert eng.merge_into(table, src, **clauses, epoch=9000, atomic=True) == {
        "epoch": 9000,
        "applied": False,
    }


def test_redact_refuses_constraint_violating_rewrite(spark, tmp_path):
    """redact_where raises BEFORE any write when the rewritten rows break a
    CHECK constraint (Delta's UPDATE rule): quarantining them would keep the
    unredacted row live in the main table while the derived table took the
    redacted one. Main table, derived table and quarantine sidecar stay
    untouched; a redaction that satisfies the constraints still lands."""
    import hashlib
    import os

    from data_exchange_hl7_spark.engine import FILE_STATS_SCHEMA, file_stats_derive

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    table = eng.snapshot_table("repo_files")
    table.add_check_constraint("size_pos", "size_bytes > 0")
    table.add_check_constraint("size_mod3", "size_bytes % 3 <> 0")
    stats_t = eng.derived_table("file_stats", FILE_STATS_SCHEMA, file_stats_derive)
    eng.apply_epoch(change_events(spark, 2000), table, epoch=0, collect_metrics=False)
    # a repo with both live and quarantined rows: the sweep would touch both
    victim = table.quarantine().select("repo").orderBy("repo").first()["repo"]
    pred = f"repo = '{victim}'"
    qdir = os.path.join(table.location, "_quarantine")

    def state():
        return (
            table.current_snapshot()["snapshot_id"],
            stats_t.current_snapshot()["snapshot_id"],
            sorted(str(r) for r in table.snapshot().filter(pred).collect()),
            sorted(str(r) for r in stats_t.snapshot().filter(pred).collect()),
            sorted(str(r) for r in table.quarantine().collect()),
            sorted(os.listdir(qdir)),
        )

    before = state()
    assert before[2] and before[3]
    with pytest.raises(ValueError, match="size_pos"):
        eng.redact_where(table, pred, {"content": "''"}, epoch=9001)
    assert state() == before
    assert "9001" not in table.committed_epochs()

    r = eng.redact_where(table, pred, {"content": "'[REDACTED]'"}, epoch=9001)
    assert r["applied"] and r["quarantine_swept"] > 0
    live = table.snapshot().filter(pred).collect()
    assert len(live) == len(before[2])
    assert {x["content"] for x in live} == {"[REDACTED]"}
    want = hashlib.sha256(b"[REDACTED]").hexdigest()
    derived = stats_t.snapshot().filter(pred).collect()
    assert len(derived) == len(live)
    assert {x["content_sha256"] for x in derived} == {want}


@pytest.mark.parametrize("n_buckets", [8, 32])
def test_mor_apply_writes_one_delta_file_per_bucket(
    spark, tmp_path, events, oracle_state, n_buckets
):
    """The apply's dedup exchange leaves its frame partitioned by storage
    bucket and hands the MoR merge a __bucket column saying so: exactly one
    file in each bucket directory of the delta layer, and the apply reaches
    the oracle state. The exchange is AQE-sized, so at 32 buckets (more
    than the session's shuffle partitions) a task writes several buckets,
    each still whole."""
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=n_buckets)
    table = eng.snapshot_table("repo_files")
    r = eng.apply_epoch(events, table, epoch=0, collect_metrics=False)
    assert 0 < r["delta_files"] <= n_buckets
    layer = table.current_snapshot()["deltas"][-1]["files"]
    assert len(layer) == r["delta_files"]
    for b, fs in layer.items():
        d = os.path.join(table.data_dir, os.path.dirname(fs[0]))
        assert os.path.basename(d) == f"__bucket={b}"
        assert [f for f in os.listdir(d) if f.endswith(".parquet")] == [
            os.path.basename(fs[0])
        ]
    _assert_matches_oracle(table, oracle_state)


def test_apply_fills_a_column_added_by_add_column_with_null(spark, tmp_path, events):
    """A column added through LakeTable.add_column has no source in the
    event envelope: later epochs still ingest, and their rows read it as
    NULL."""
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    table = eng.snapshot_table("repo_files")
    eng.apply_epoch(events.filter(F.col("lsn") < 2000), table, epoch=0)
    table.add_column("note", "string")
    r = eng.apply_epoch(events.filter(F.col("lsn") >= 2000), table, epoch=1)
    assert r["applied"]
    snap = table.snapshot()
    assert snap.filter(F.col("last_lsn") >= 2000).count() > 0
    assert snap.filter(F.col("note").isNotNull()).count() == 0


def test_engine_merge_into_writes_one_delta_file_per_bucket(spark, tmp_path, events):
    """Engine.merge_into's compiled frame is not bucket-partitioned either:
    at most one file per bucket per delta layer."""
    n_buckets = 8
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=n_buckets)
    table = eng.snapshot_table("repo_files")
    eng.apply_epoch(events, table, epoch=0, collect_metrics=False)
    src = spark.createDataFrame(
        table.snapshot().select("repo", "path").collect(), "repo string, path string"
    ).withColumn("content", F.lit("MERGEINTO"))
    r = eng.merge_into(
        table,
        src,
        when_matched=[
            {"condition": None, "action": "update", "set": {"content": "s.content"}}
        ],
        epoch=1,
    )
    assert 0 < r["delta_files"] <= n_buckets
    assert table.snapshot().filter(F.col("content") != "MERGEINTO").count() == 0
