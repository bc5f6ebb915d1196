"""Incrementally-maintained JOIN materialized view (Engine.join_table):
delta-join IVM across TWO changing keyed tables, exactly-once from both
parents' epoch counters, with purge cascade, rollback refresh, and
stage-scoped rebuild.

Reference analogue: the gold pipeline's per-batch lookup enrichment
(runHL7GoldPipelineFull.scala:115-156) — here the joined product is a
maintained lake table instead of a per-query recompute."""

import pyspark.sql.functions as F
import pytest

from data_exchange_hl7_spark.datagen import change_events
from data_exchange_hl7_spark.engine import Engine, table_name
from data_exchange_hl7_spark.lake.table import LakeTable

DIM_SCHEMA = [
    ("repo", "string"),
    ("tier", "string"),
    ("boost", "bigint"),
    ("last_lsn", "bigint"),
]

VIEW_COLS = ["repo", "path", "lang", "size_bytes", "tier", "boost", "last_lsn"]


def _mk_dim(spark, loc):
    return LakeTable.create(
        spark,
        loc,
        DIM_SCHEMA,
        ["repo"],
        n_buckets=4,
        order_col="last_lsn",
    )


def _dim_rows(repos_df, lsn, op="U", boost_add=0):
    n = F.length("repo").cast("bigint")
    return repos_df.select(
        "repo",
        F.when(n % 2 == 0, F.lit("gold")).otherwise(F.lit("silver")).alias("tier"),
        (n * 10 + boost_add).alias("boost"),
        F.lit(lsn).cast("bigint").alias("last_lsn"),
        F.lit(op).alias("__op"),
    )


def _setup(spark, tmp_path, n_events=3000):
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    t = eng.snapshot_table("repo_files")
    dim = _mk_dim(spark, str(tmp_path / "wh" / "repo_meta"))
    view = eng.join_table(
        "files_meta",
        dim,
        on=["repo"],
        main_cols=["lang", "size_bytes"],
        dim_cols=["tier", "boost"],
        n_buckets=4,
    )
    ev = change_events(spark, n_events).persist()
    return eng, t, dim, view, ev


def _expected(t, dim):
    return (
        t.snapshot()
        .select("repo", "path", "lang", "size_bytes", "last_lsn")
        .join(dim.snapshot().select("repo", "tier", "boost"), "repo", "inner")
        .select(*VIEW_COLS)
    )


def _assert_view_equals_batch_join(view, t, dim):
    got = {tuple(r) for r in view.snapshot().select(*VIEW_COLS).collect()}
    exp = {tuple(r) for r in _expected(t, dim).collect()}
    assert got == exp and len(got) > 0


def test_join_view_tracks_both_parents(spark, tmp_path):
    eng, t, dim, view, ev = _setup(spark, tmp_path)
    repos = ev.select("repo").distinct()

    # d0: every repo gets a dim row BEFORE any facts exist
    eng.apply_dim_epoch(dim, _dim_rows(repos, lsn=1), epoch=0)
    # m0: first half of the WAL joins against dim v1
    eng.apply_epoch(
        ev.filter(F.col("lsn") < 1500), t, epoch=0, collect_metrics=False
    )
    _assert_view_equals_batch_join(view, t, dim)

    # d1: update the 'gold' repos' boost, DELETE repos ending in an odd
    # digit — their fact rows must leave the view and stay out
    upd = _dim_rows(
        repos.filter(F.length("repo") % 2 == 0), lsn=2, boost_add=1000
    )
    dels = _dim_rows(
        repos.filter(F.substring("repo", 8, 1).cast("int") % 2 == 1), lsn=2, op="D"
    )
    eng.apply_dim_epoch(dim, upd.unionByName(dels), epoch=1)
    _assert_view_equals_batch_join(view, t, dim)

    # m1: second half — updates to dim-deleted repos must NOT resurrect
    eng.apply_epoch(
        ev.filter(F.col("lsn") >= 1500), t, epoch=1, collect_metrics=False
    )
    _assert_view_equals_batch_join(view, t, dim)
    ev.unpersist()


def test_join_view_resumes_after_partial_commit(spark, tmp_path):
    eng, t, dim, view, ev = _setup(spark, tmp_path)
    repos = ev.select("repo").distinct()
    eng.apply_dim_epoch(dim, _dim_rows(repos, lsn=1), epoch=0)
    eng.apply_epoch(ev.filter(F.col("lsn") < 1500), t, epoch=0, collect_metrics=False)

    # crash window: epoch 1 lands on the MAIN table through an engine that
    # has no view registered (= died between the two commits)
    eng_blind = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    t_blind = eng_blind.snapshot_table("repo_files")
    eng_blind.apply_epoch(
        ev.filter(F.col("lsn") >= 1500), t_blind, epoch=1, collect_metrics=False
    )
    assert "1" in t_blind.committed_epochs()
    assert "repo_files:1" not in view.committed_epochs()

    # resume: same epoch through the registered engine — main no-ops,
    # only the view catches up, and the result is the batch join
    res = eng.apply_epoch(
        ev.filter(F.col("lsn") >= 1500), t, epoch=1, collect_metrics=False
    )
    assert res["applied"] is False or res.get("derived_applied")
    assert "repo_files:1" in view.committed_epochs()
    _assert_view_equals_batch_join(view, t, dim)

    # dim-side crash window: dim commit lands, view maintenance doesn't
    upd = _dim_rows(repos, lsn=3, boost_add=7)
    dim_blind = LakeTable(spark, str(tmp_path / "wh" / "repo_meta"))
    dim_blind.merge(upd, epoch=1)
    assert "repo_meta:1" not in view.committed_epochs()
    eng.apply_dim_epoch(dim, upd, epoch=1)  # dim merge no-ops, view applies
    assert "repo_meta:1" in view.committed_epochs()
    _assert_view_equals_batch_join(view, t, dim)
    ev.unpersist()


def test_join_view_purge_cascade(spark, tmp_path):
    eng, t, dim, view, ev = _setup(spark, tmp_path)
    repos = ev.select("repo").distinct()
    eng.apply_dim_epoch(dim, _dim_rows(repos, lsn=1), epoch=0)
    eng.apply_epoch(ev, t, epoch=0, collect_metrics=False)
    victim = t.snapshot().select("repo").orderBy("repo").first()["repo"]
    eng.purge_where(t, f"repo = '{victim}'", epoch=99)
    assert view.snapshot().filter(F.col("repo") == victim).count() == 0
    _assert_view_equals_batch_join(view, t, dim)
    ev.unpersist()


def test_join_view_rollback_refreshes(spark, tmp_path):
    eng, t, dim, view, ev = _setup(spark, tmp_path)
    repos = ev.select("repo").distinct()
    eng.apply_dim_epoch(dim, _dim_rows(repos, lsn=1), epoch=0)
    eng.apply_epoch(ev.filter(F.col("lsn") < 1500), t, epoch=0, collect_metrics=False)
    good_sid = t.current_snapshot()["snapshot_id"]
    eng.apply_epoch(ev.filter(F.col("lsn") >= 1500), t, epoch=1, collect_metrics=False)

    out = eng.rollback(t, good_sid)
    assert out["files_meta"]["applied"] is True
    _assert_view_equals_batch_join(view, t, dim)
    # refresh is idempotent per (main sid, dim sid) state pair
    again = eng.refresh_join("files_meta")
    assert again["applied"] is False
    ev.unpersist()


def test_join_view_rebuild_from_either_parent(spark, tmp_path):
    eng, t, dim, view, ev = _setup(spark, tmp_path)
    repos = ev.select("repo").distinct()
    eng.apply_dim_epoch(dim, _dim_rows(repos, lsn=1), epoch=0)
    eng.apply_epoch(ev.filter(F.col("lsn") < 1500), t, epoch=0, collect_metrics=False)
    eng.apply_dim_epoch(
        dim, _dim_rows(repos.limit(5), lsn=2, boost_add=50), epoch=1
    )
    eng.apply_epoch(ev.filter(F.col("lsn") >= 1500), t, epoch=1, collect_metrics=False)

    exp = {tuple(r) for r in view.snapshot().select(*VIEW_COLS).collect()}
    r_main = eng.rebuild_derived(t, "files_meta", target_name="fm_rb_main")
    got_main = {tuple(r) for r in r_main.snapshot().select(*VIEW_COLS).collect()}
    assert got_main == exp
    r_dim = eng.rebuild_derived(dim, "files_meta", target_name="fm_rb_dim")
    got_dim = {tuple(r) for r in r_dim.snapshot().select(*VIEW_COLS).collect()}
    assert got_dim == exp
    ev.unpersist()


def test_join_view_rejects_bad_registration(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    eng.snapshot_table("repo_files")
    dim = _mk_dim(spark, str(tmp_path / "wh" / "repo_meta"))
    with pytest.raises(ValueError, match="subset of the main key"):
        eng.join_table("v1", dim, on=["lang"], main_cols=[], dim_cols=["tier"])
    with pytest.raises(ValueError, match="duplicated columns"):
        eng.join_table(
            "v2", dim, on=["repo"], main_cols=["path"], dim_cols=["tier"]
        )


def test_join_view_table_name_helper(spark, tmp_path):
    eng, t, dim, view, ev = _setup(spark, tmp_path, n_events=200)
    ev.unpersist()
    assert table_name(view) == "files_meta"


def test_dim_check_constraint_gates_before_view_refresh(spark, tmp_path):
    """A dim epoch goes through the same CHECK gate as a fact epoch: rows the
    dim quarantines must not reach the join view, and the stats report the
    quarantine count."""
    eng, t, dim, view, ev = _setup(spark, tmp_path)
    repos = ev.select("repo").distinct()
    n_repos = repos.count()
    dim.add_check_constraint("boost_nonneg", "boost >= 0")
    eng.apply_dim_epoch(dim, _dim_rows(repos, lsn=1), epoch=0)
    eng.apply_epoch(ev, t, epoch=0, collect_metrics=False)

    bad = _dim_rows(repos, lsn=2).withColumn("boost", F.lit(-1).cast("bigint"))
    res = eng.apply_dim_epoch(dim, bad, epoch=1)
    assert res["quarantined"] == n_repos
    assert dim.quarantine().count() == n_repos
    assert view.snapshot().filter(F.col("boost") < 0).count() == 0
    assert "repo_meta:1" in view.committed_epochs()
    _assert_view_equals_batch_join(view, t, dim)
    ev.unpersist()


def test_dim_epoch_maintains_plain_derived_table(spark, tmp_path):
    """Any table registered on the dim is maintained by apply_dim_epoch, not
    only join views: a derived_table with main=<dim> holds the dim's rows and
    records the epoch in its ledger."""
    eng, t, dim, view, ev = _setup(spark, tmp_path, n_events=500)
    copy = eng.derived_table(
        "repo_meta_copy",
        DIM_SCHEMA,
        lambda ch: ch.select("repo", "tier", "boost", "last_lsn", "__op"),
        main="repo_meta",
        key_cols=["repo"],
        n_buckets=4,
    )
    repos = ev.select("repo").distinct()
    res = eng.apply_dim_epoch(dim, _dim_rows(repos, lsn=1), epoch=0)
    assert set(res["derived_applied"]) == {"files_meta", "repo_meta_copy"}
    assert "0" in copy.committed_epochs()
    cols = [c for c, _ in DIM_SCHEMA]
    got = {tuple(r) for r in copy.snapshot().select(*cols).collect()}
    exp = {tuple(r) for r in dim.snapshot().select(*cols).collect()}
    assert got == exp and len(got) > 0
    ev.unpersist()
