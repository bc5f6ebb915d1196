"""operators/temporal.py — SCD2 / as-of join / changelog normalize /
net-change folding: edge-case semantics on hand-built frames plus the
plan-shape contracts (single exchange; net_changes is window-free)."""

from pyspark.sql import functions as F

from data_exchange_hl7_spark.operators import temporal
from data_exchange_hl7_spark.plans.inspect import assert_no_python_udf, explain_str

# key=k1: insert, update, delete, re-insert  (full lifecycle)
# key=k2: delete arrives first (delete-of-absent), then insert
# key=k3: single insert, still current
EVENTS = [
    # (lsn, key, ts, op_is_delete, payload)
    (1, "k1", "2024-01-01 00:00:00", False, "a"),
    (2, "k1", "2024-01-02 00:00:00", False, "b"),
    (3, "k1", "2024-01-03 00:00:00", True, None),
    (4, "k1", "2024-01-04 00:00:00", False, "c"),
    (5, "k2", "2024-01-01 12:00:00", True, None),
    (6, "k2", "2024-01-02 12:00:00", False, "x"),
    (7, "k3", "2024-01-05 00:00:00", False, "z"),
]


def _feed(spark):
    df = spark.createDataFrame(
        EVENTS, "lsn bigint, key string, ts_s string, is_del boolean, payload string"
    )
    return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def test_scd2_versions_close_and_delete_leaves_no_current(spark):
    out = temporal.scd2(
        _feed(spark),
        key_cols=["key"],
        order_cols=["ts", "lsn"],
        ts_col="ts",
        delete_predicate=F.col("is_del"),
    )
    rows = {
        (r["key"], r["version_no"]): r
        for r in out.select("key", "version_no", "lsn", "valid_to", "is_current")
        .collect()
    }
    # k1: three surviving versions (the delete closes v2, opens nothing)
    assert rows[("k1", 1)]["lsn"] == 1 and not rows[("k1", 1)]["is_current"]
    v2 = rows[("k1", 2)]
    assert v2["lsn"] == 2 and str(v2["valid_to"]).startswith("2024-01-03")
    assert rows[("k1", 3)]["lsn"] == 4 and rows[("k1", 3)]["is_current"]
    # k2: the leading delete closed nothing; the insert is current
    assert ("k2", 1) in rows and rows[("k2", 1)]["lsn"] == 6
    assert rows[("k2", 1)]["is_current"]
    # k3 single version current
    assert rows[("k3", 1)]["is_current"]
    assert len(rows) == 5


def test_scd2_key_whose_last_event_is_delete_has_no_current(spark):
    trunc = _feed(spark).filter(F.col("lsn") <= 3)  # k1 ends on the delete
    out = temporal.scd2(
        trunc, ["key"], ["ts", "lsn"], "ts", delete_predicate=F.col("is_del")
    )
    k1 = out.filter(F.col("key") == "k1").collect()
    assert len(k1) == 2 and not any(r["is_current"] for r in k1)


def test_asof_join_carries_latest_dim_and_nulls_before_first(spark):
    feed = _feed(spark)
    facts = spark.createDataFrame(
        [(0, "k1"), (2, "k1"), (9, "k1"), (5, "k2")], "lsn bigint, key string"
    )
    dim = feed.filter(~F.col("is_del")).select("key", "lsn", "payload")
    out = temporal.asof_join(
        facts, dim, key_cols=["key"], lsn_col="lsn", dim_cols=["lsn", "payload"]
    )
    got = {(r["key"], r["lsn"]): (r["asof_lsn"], r["asof_payload"]) for r in out.collect()}
    assert got[("k1", 0)] == (None, None)  # before any dim row
    assert got[("k1", 2)] == (2, "b")  # inclusive: dim at the same LSN wins
    assert got[("k1", 9)] == (4, "c")
    assert got[("k2", 5)] == (None, None)  # dim row 6 is later than the fact
    assert out.count() == 4


def test_changelog_normalize_ops_and_delete_of_absent_is_silent(spark):
    out = temporal.changelog_normalize(
        _feed(spark),
        key_cols=["key"],
        lsn_col="lsn",
        image_cols=["payload"],
        delete_predicate=F.col("is_del"),
    )
    rows = [
        (r["key"], r["lsn"], r["change_op"], r["step"], r["img_lsn"], r["img_payload"])
        for r in out.orderBy("lsn", "step").collect()
    ]
    assert rows == [
        ("k1", 1, "+I", 1, 1, "a"),
        ("k1", 2, "-U", 0, 1, "a"),
        ("k1", 2, "+U", 1, 2, "b"),
        ("k1", 3, "-D", 0, 2, "b"),
        ("k1", 4, "+I", 1, 4, "c"),  # state was absent after the delete
        # lsn 5 (delete-of-absent on k2) emits NOTHING
        ("k2", 6, "+I", 1, 6, "x"),
        ("k3", 7, "+I", 1, 7, "z"),
    ]


def test_net_changes_classification_per_pre_state(spark):
    # split at lsn 4: pre-window state k1=deleted(3), k2=absent(delete@5? no
    # — 5 >= 4 is IN the window), k3 absent
    out = temporal.net_changes(
        _feed(spark),
        key_cols=["key"],
        lsn_col="lsn",
        image_cols=["payload"],
        delete_predicate=F.col("is_del"),
        split_lsn=F.lit(4),
    )
    got = {r["key"]: (r["net_op"], r["img_lsn"], r["img_payload"]) for r in out.collect()}
    # k1 pre-state is the delete at lsn 3 -> absent; final windowed is
    # insert at 4 -> net INSERT
    assert got["k1"] == ("I", 4, "c")
    # k2 window = delete@5 then insert@6 -> final insert, pre absent -> I
    assert got["k2"] == ("I", 6, "x")
    # k3 window = single insert@7, pre absent -> I
    assert got["k3"] == ("I", 7, "z")


def test_net_changes_update_and_delete_nets(spark):
    # split at lsn 3: k1 pre-state = b(2) present; window = delete(3),
    # insert(4) -> final insert with pre present -> net UPDATE
    out = temporal.net_changes(
        _feed(spark), ["key"], "lsn", ["payload"], F.col("is_del"), F.lit(3)
    )
    got = {r["key"]: (r["net_op"], r["img_lsn"]) for r in out.collect()}
    assert got["k1"] == ("U", 4)
    # delete-net: truncate the feed so k1's window ends on the delete
    out2 = temporal.net_changes(
        _feed(spark).filter(F.col("lsn") <= 3),
        ["key"], "lsn", ["payload"], F.col("is_del"), F.lit(3),
    )
    got2 = {r["key"]: (r["net_op"], r["img_lsn"], r["img_payload"]) for r in out2.collect()}
    # final windowed event is the delete, pre-state b(2) present -> net D
    # with the BEFORE image
    assert got2["k1"] == ("D", 2, "b")
    # k2's only pre-split event... lsn 5 >= 3 -> in window but it's a
    # delete-of-absent -> no net row at this truncation
    assert "k2" not in got2


def test_plan_shapes_single_exchange_and_no_window_in_net_changes(spark):
    feed = _feed(spark)
    net = temporal.net_changes(
        feed, ["key"], "lsn", ["payload"], F.col("is_del"), F.lit(4)
    )
    plan = explain_str(net)
    assert "Window" not in plan  # skew-immune: pure aggregation
    assert plan.count("Exchange") <= 2  # one key exchange (+AQE reuse noise)
    assert_no_python_udf(net)

    asof = temporal.asof_join(
        feed.select("key", "lsn"),
        feed.select("key", "lsn", "payload"),
        ["key"], "lsn", ["payload"],
    )
    aplan = explain_str(asof)
    assert "CartesianProduct" not in aplan and "SortMergeJoin" not in aplan
    assert "Join" not in aplan  # the union trick joins NOTHING
    assert_no_python_udf(asof)

    clog = temporal.changelog_normalize(
        feed, ["key"], "lsn", ["payload"], F.col("is_del")
    )
    assert_no_python_udf(clog)


# ---------------------------------------------------------------------------
# Engine.scd2_table — incremental SCD2 history maintained with the epochs


def _scd2_engine(spark, tmp_path, n=3000):
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=8)
    t = eng.snapshot_table("repo_files")
    hist = eng.scd2_table()
    ev = change_events(spark, n).persist()
    eng.apply_epoch(ev.filter(F.col("lsn") < n // 2), t, epoch=0,
                    collect_metrics=False)
    eng.apply_epoch(ev.filter(F.col("lsn") >= n // 2), t, epoch=1,
                    collect_metrics=False)
    ev.unpersist()
    return eng, t, hist


def test_scd2_table_current_versions_equal_main_state(spark, tmp_path):
    """The open versions of the history table ARE the main table: same keys,
    same image columns, valid_from == the main row's last_lsn."""
    _eng, t, hist = _scd2_engine(spark, tmp_path)
    img = ["commit", "lang", "content_sha256"]
    cur = hist.snapshot().filter("is_current").select(
        "repo", "path", F.col("valid_from_lsn").alias("last_lsn"),
        *img, F.col("size_bytes").cast("int").alias("size_bytes"),
    )
    main = t.snapshot().select("repo", "path", "last_lsn", *img,
                               F.col("size_bytes").cast("int").alias("size_bytes"))
    assert cur.count() == main.count() > 0
    assert cur.exceptAll(main).count() == 0
    assert main.exceptAll(cur).count() == 0


def test_scd2_table_intervals_well_formed(spark, tmp_path):
    """Per key: at most one open version; closed intervals end after they
    start; consecutive versions never overlap (prev.valid_to <= next
    .valid_from) and an update's closing row meets its opener exactly."""
    from pyspark.sql import Window

    _eng, _t, hist = _scd2_engine(spark, tmp_path)
    h = hist.snapshot()
    multi_open = (
        h.filter("is_current").groupBy("repo", "path").count().filter("count > 1")
    )
    assert multi_open.count() == 0
    assert h.filter("valid_to_lsn IS NOT NULL AND valid_to_lsn <= valid_from_lsn").count() == 0
    assert h.filter("is_current AND valid_to_lsn IS NOT NULL").count() == 0
    assert h.filter("NOT is_current AND valid_to_lsn IS NULL").count() == 0
    w = Window.partitionBy("repo", "path").orderBy("valid_from_lsn")
    chained = h.withColumn("nxt_from", F.lead("valid_from_lsn").over(w))
    # a closed version followed by another version must end at or before the
    # successor opens; versions with a successor must be closed
    assert chained.filter("nxt_from IS NOT NULL AND valid_to_lsn IS NULL").count() == 0
    assert chained.filter("nxt_from IS NOT NULL AND valid_to_lsn > nxt_from").count() == 0
    # the history has real churn: some keys carry >= 2 versions
    assert h.groupBy("repo", "path").count().filter("count >= 2").count() > 0


def test_scd2_table_idempotent_reapply(spark, tmp_path):
    """Re-running a committed epoch leaves the history byte-identical (the
    per-table manifest no-ops the merge)."""
    from data_exchange_hl7_spark.datagen import change_events

    eng, t, hist = _scd2_engine(spark, tmp_path, n=2000)
    before = hist.snapshot().orderBy("repo", "path", "valid_from_lsn").collect()
    ev = change_events(spark, 2000)
    eng.apply_epoch(ev.filter(F.col("lsn") >= 1000), t, epoch=1,
                    collect_metrics=False)
    after = hist.snapshot().orderBy("repo", "path", "valid_from_lsn").collect()
    assert before == after


def test_scd2_table_purge_removes_whole_history(spark, tmp_path):
    """purge_where is the compliance hammer: it must sweep a purged key's
    ENTIRE version history (closed versions carry the key's images too), not
    just close the current version — while keys outside the predicate keep
    their history untouched."""
    eng, t, hist = _scd2_engine(spark, tmp_path, n=2000)
    victim = t.snapshot().select("repo").first()["repo"]
    before_other = (
        hist.snapshot().filter(F.col("repo") != victim).count()
    )
    assert hist.snapshot().filter(F.col("repo") == victim).count() > 0
    eng.purge_where(t, f"repo = '{victim}'", epoch=2)
    assert hist.snapshot().filter(F.col("repo") == victim).count() == 0
    assert hist.snapshot().filter(F.col("repo") != victim).count() == before_other
    # main table no longer serves the purged keys
    assert t.snapshot().filter(F.col("repo") == victim).count() == 0


def test_scd2_table_rebuild_matches_original(spark, tmp_path):
    """Stage-scoped replay of the history kind: rebuild_derived recovers the
    per-epoch change frames + pre-states from the main CDF and lands a
    byte-identical history table. That holds after a purge and a redact
    too: they sweep EVERY version of the matched keys, not the one row per
    key the change feed holds, so the rebuild replays those sweeps from the
    main table's ledger."""
    from data_exchange_hl7_spark.datagen import change_events

    eng, t, hist = _scd2_engine(spark, tmp_path)
    # the redacted repo holds both open and closed versions
    redacted = (
        hist.snapshot().groupBy("repo").agg(F.countDistinct("is_current").alias("n"))
        .filter("n = 2").orderBy("repo").first()["repo"]
    )
    purged = t.snapshot().filter(F.col("repo") != redacted).orderBy("repo").first()["repo"]
    eng.purge_where(t, f"repo = '{purged}'", epoch=10)
    eng.redact_where(
        t, f"repo = '{redacted}'",
        {"content": "'[REDACTED]'", "commit": "'[REDACTED]'"}, epoch=11,
    )
    h = hist.snapshot()
    assert h.filter(F.col("repo") == purged).count() == 0
    swept = h.filter(F.col("repo") == redacted)
    assert swept.filter(~F.col("is_current")).count() > 0  # closed versions too
    assert swept.filter(
        (F.col("commit") != "[REDACTED]") | F.col("content_sha256").isNotNull()
    ).count() == 0
    # a later commit under a LOWER epoch id: the sweeps never saw its
    # versions, so the rebuild must replay in commit order, not by epoch id
    later = change_events(spark, 4000).filter(F.col("lsn") >= 3000)
    eng.apply_epoch(later, t, epoch=2, collect_metrics=False)
    assert hist.snapshot().filter(
        (F.col("repo") == redacted) & F.col("content_sha256").isNotNull()
    ).count() > 0
    rebuilt = eng.rebuild_derived(t, "scd2_history", target_name="scd2_rebuilt")
    a = hist.snapshot().orderBy("repo", "path", "valid_from_lsn").collect()
    b = rebuilt.snapshot().orderBy("repo", "path", "valid_from_lsn").collect()
    assert a == b and len(a) > 0


def test_edit_pairs_kinds_noop_and_distance(spark):
    """edit_pairs classifies create / modify / delete / create-after-delete,
    flags byte-identical no-op edits, and scores modifies with the capped
    Levenshtein; a delete-of-absent emits nothing."""
    feed = spark.createDataFrame(
        [
            (1, "k1", False, "hello"),
            (2, "k1", False, "hallo"),      # modify, distance 1
            (3, "k1", True, None),          # delete
            (4, "k1", False, "reborn"),     # create-after-delete
            (5, "k2", True, None),          # delete-of-absent: silent
            (6, "k2", False, "x"),          # create
            (7, "k2", False, "x"),          # NO-OP modify
        ],
        "lsn bigint, key string, is_del boolean, content string",
    )
    out = temporal.edit_pairs(
        feed,
        key_cols=["key"],
        lsn_col="lsn",
        content_col="content",
        delete_predicate=F.col("is_del"),
        distance_prefix=3,
    )
    rows = {r["to_lsn"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4, 6, 7}  # lsn 5 silent
    assert rows[1]["edit_kind"] == "create" and rows[1]["from_lsn"] is None
    assert rows[2]["edit_kind"] == "modify" and rows[2]["from_lsn"] == 1
    # distance_prefix=3 caps 'hel' vs 'hal' -> 1
    assert rows[2]["edit_distance"] == 1 and not rows[2]["is_noop"]
    assert rows[3]["edit_kind"] == "delete" and rows[3]["after_content"] is None
    assert rows[3]["len_after"] is None and rows[3]["len_before"] == 5
    assert rows[4]["edit_kind"] == "create" and rows[4]["from_lsn"] is None
    assert rows[4]["before_content"] is None
    assert rows[6]["edit_kind"] == "create"
    assert rows[7]["edit_kind"] == "modify" and rows[7]["is_noop"]
    assert rows[7]["edit_distance"] == 0


def test_edit_pairs_plan_single_exchange_no_python(spark):
    feed = spark.createDataFrame(
        [(1, "k", False, "a")], "lsn bigint, key string, is_del boolean, content string"
    )
    out = temporal.edit_pairs(
        feed, key_cols=["key"], lsn_col="lsn", content_col="content",
        delete_predicate=F.col("is_del"),
    )
    assert_no_python_udf(out)
    assert explain_str(out).count("Exchange") <= 2  # one key exchange (+AQE)


def test_scd2_null_delete_predicate_rows_are_not_deletes(spark):
    """A NULL delete-predicate row must be treated as an upsert (matching
    changelog_normalize / net_changes), not silently dropped by ~NULL."""
    df = spark.createDataFrame(
        [(1, "k", "2024-01-01", False, "a"),
         (2, "k", "2024-01-02", None, "b"),   # NULL flag: NOT a delete
         (3, "k", "2024-01-03", True, None)],
        "lsn bigint, key string, ts_s string, is_del boolean, payload string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = temporal.scd2(
        df, key_cols=["key"], order_cols=["ts", "lsn"], ts_col="ts",
        delete_predicate=F.col("is_del"),
    ).orderBy("version_no")
    rows = out.select("lsn", "version_no", "is_current").collect()
    # both non-delete versions survive; the NULL-flag row is version 2,
    # closed by the trailing delete (so NOT current)
    assert [(r["lsn"], r["version_no"], r["is_current"]) for r in rows] == [
        (1, 1, False), (2, 2, False),
    ]


def test_asof_join_refuses_prefixed_column_collision(spark):
    import pytest as _pytest

    facts = spark.createDataFrame(
        [(1, "k", "x")], "lsn bigint, key string, asof_status string"
    )
    dim = spark.createDataFrame(
        [(0, "k", "ok")], "lsn bigint, key string, status string"
    )
    with _pytest.raises(ValueError, match="asof_status"):
        temporal.asof_join(facts, dim, ["key"], "lsn", ["status"])


def test_engine_merge_into_refuses_clauses_scd2_history_misrecords(spark, tmp_path):
    """SCD2 history orders versions by last_lsn, so a merge_into clause that
    keeps the target's lsn (a DELETE, or an UPDATE leaving last_lsn unset)
    would land as a late event and leave the old version open (reproduced:
    a DELETE of 20 keys left 20 open versions for keys the main table no
    longer holds). Such clauses are refused before any write; an update
    that sets last_lsn still maintains the history."""
    import pytest

    eng, t, hist = _scd2_engine(spark, tmp_path, n=2000)
    keys = t.snapshot().select("repo", "path").orderBy("repo", "path").limit(20)
    src = spark.createDataFrame(keys.collect(), "repo string, path string")
    src = src.withColumn("lsn", F.lit(5000).cast("long"))
    sids = (t.current_snapshot()["snapshot_id"], hist.current_snapshot()["snapshot_id"])
    refused = [
        [{"condition": None, "action": "delete"}],
        [{"condition": None, "action": "update", "set": {"content": "'x'"}}],
    ]
    for clauses in refused:
        with pytest.raises(ValueError, match="scd2_history"):
            eng.merge_into(t, src, when_matched=clauses, epoch=9000)
        assert (t.current_snapshot()["snapshot_id"],
                hist.current_snapshot()["snapshot_id"]) == sids
    eng.merge_into(t, src, epoch=9000, when_matched=[
        {"condition": None, "action": "update",
         "set": {"content": "'x'", "last_lsn": "s.lsn"}}])
    cur = hist.snapshot().filter("is_current")
    assert {(r["repo"], r["path"], r["valid_from_lsn"]) for r in cur.collect()} == {
        (r["repo"], r["path"], r["last_lsn"]) for r in t.snapshot().collect()
    }
